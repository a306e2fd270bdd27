package graft.operators

import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.{NearestCentroid, ScoreFunctions}

/** Embedding clustering for training-data curation: exact Lloyd k-means
  * iterations over a `array<float>` embedding column, plus SemDeDup-style
  * semantic deduplication (cluster the corpus, then drop near-duplicate
  * members within each cluster — Abbas et al. 2023, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication").
  *
  * This is deliberately NOT `org.apache.spark.ml.clustering.KMeans` (which
  * backs the IVF coarse quantizer, [[Ann.ivfBuild]]): curation needs
  * oracle-checkable arithmetic — deterministic seeding from a grouping
  * column, exact elementwise-mean centroids, a pinned tie-break — so the
  * assignment can be replayed query-for-query by an independent engine.
  * The physical shape is the textbook distributed Lloyd:
  *
  *  - ASSIGN is map-only: centroids broadcast as expression literals, one
  *    codegen'd kernel call per row ([[graft.functions.NearestCentroid]],
  *    O(k·d) primitive flops, no shuffle);
  *  - RECOMPUTE is ONE partial-aggregate shuffle (`Summarizer.mean`
  *    map-side combines per partition; k result rows cross the wire);
  *  - k is bounded by [[MaxCentroids]] — the centroid set must stay
  *    broadcast-sized, which is also what keeps ASSIGN map-only. At 100 TB
  *    with a huge k, fit on a sample (the [[Ann.ivfBuild]] `fitFraction`
  *    pattern) and run the single assignment pass over everything.
  *
  * Iteration scans the source once per pass (an assignment is a cheap
  * codegen map over the scan); callers looping many iterations over an
  * expensive upstream plan should materialize the input first
  * ([[Materialize.eager]]) — the operators do not persist behind the
  * caller's back.
  */
object Clustering {

  /** Broadcast-size contract for the centroid set: assignment inlines the
    * matrix into the expression, so k·d doubles ride in the serialized
    * plan. 2^16 × d=1024 ≈ 0.5 GiB is already generous; beyond that a
    * flat Lloyd is the wrong algorithm (use a hierarchical/IVF layout). */
  val MaxCentroids: Int = 1 << 16

  /** A cluster id + its exact mean vector. */
  final case class Centroid(id: Int, v: Array[Double])

  /** Exact elementwise mean per `groupCol` value — centroid
    * initialization (seed clusters from a label/source/topic column) and
    * the RECOMPUTE step of [[lloyd]]. One partial-aggregate shuffle; k
    * rows collect to the driver (bounded by [[MaxCentroids]]). Groups
    * with a NULL id are dropped — a null cluster never becomes a
    * centroid. Returned sorted by id: [[assign]]'s tie-break contract
    * (first wins on exact distance ties = lowest cluster id). */
  def groupCentroids(df: DataFrame, groupCol: String, featureCol: String): Array[Centroid] = {
    val rows = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("int").as("__g"))
      .agg(vector_to_array(Summarizer.mean(
        array_to_vector(col(featureCol).cast("array<double>")))).as("__c"))
      .collect()
    require(rows.length <= MaxCentroids,
      s"${rows.length} centroids exceed MaxCentroids=$MaxCentroids — the " +
        "centroid set must stay broadcast-sized; use a sampled/hierarchical fit")
    rows.map(r => Centroid(r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_.id)
  }

  /** `struct(cluster, dist)` of the nearest centroid for `vec` — a single
    * codegen'd kernel call per row (see [[graft.functions.NearestCentroid]]). */
  def nearestCentroid(centroids: Array[Centroid], vec: Column): Column = {
    require(centroids.nonEmpty, "nearestCentroid: empty centroid set")
    val d = centroids.head.v.length
    require(centroids.forall(_.v.length == d),
      "nearestCentroid: centroids disagree on dimension")
    val sorted = centroids.sortBy(_.id)
    Bridge.column(NearestCentroid(
      Bridge.expression(vec.cast("array<double>")),
      sorted.map(_.id), sorted.flatMap(_.v), d))
  }

  /** ASSIGN: adds `cluster` (nearest centroid id) and `dist` (euclidean
    * distance to it) to every row. Map-only; no shuffle. */
  def assign(df: DataFrame, centroids: Array[Centroid], featureCol: String,
      clusterCol: String = "cluster", distCol: String = "dist"): DataFrame = {
    require(Seq(clusterCol, distCol, "__nc").forall(!df.columns.contains(_)),
      s"assign reserves columns $clusterCol, $distCol, __nc")
    df.withColumn("__nc", nearestCentroid(centroids, col(featureCol)))
      .withColumn(clusterCol, col("__nc.cluster"))
      .withColumn(distCol, col("__nc.dist"))
      .drop("__nc")
  }

  /** A finished Lloyd run: the final assignment (with `cluster`/`dist`)
    * and the centroids that produced it. */
  final case class LloydResult(assigned: DataFrame, centroids: Array[Centroid])

  /** `iters` Lloyd passes from explicit seed centroids: assign, then
    * (between passes) recompute each surviving cluster's exact mean. A
    * cluster that loses every member simply drops out — k may shrink
    * across iterations (the empty-cluster semantic; re-seeding splits is
    * a policy choice left to callers, and the oracle replays the drop). */
  def lloyd(df: DataFrame, init: Array[Centroid], featureCol: String,
      iters: Int): LloydResult = {
    require(iters >= 1, s"iters=$iters")
    var cents = init
    var assigned = assign(df, cents, featureCol)
    var i = 1
    while (i < iters) {
      cents = groupCentroids(assigned.drop("dist"), "cluster", featureCol)
      assigned = assign(df, cents, featureCol)
      i += 1
    }
    LloydResult(assigned, cents)
  }

  /** [[lloyd]] seeded from a grouping column's exact means (label, source,
    * topic, …) — fully deterministic end-to-end: both the seed and every
    * subsequent step derive from the data. */
  def lloydByGroup(df: DataFrame, groupCol: String, featureCol: String,
      iters: Int): LloydResult =
    lloyd(df, groupCentroids(df, groupCol, featureCol), featureCol, iters)

  /** SemDeDup: route every row to its nearest centroid, then within each
    * cluster drop any row that has a same-cluster neighbour with a
    * SMALLER id and cosine similarity ≥ `threshold` (greedy leader dedup
    * in id order — deterministic, and exactly replayable in SQL; the
    * published method's "keep one per ε-ball" with a pinned
    * representative choice). Survivors keep their `cluster` column.
    *
    * Scale shape: the candidate join is an equi-join ON CLUSTER — the
    * whole point of SemDeDup is that k is sized so clusters are small
    * (n/k rows each), making the within-cluster quadratic affordable and
    * embarrassingly parallel. That contract is ENFORCED, not assumed:
    * the largest cluster is measured first (one cheap count aggregate —
    * the assignment recompute is a codegen map over the scan) and an
    * oversized cluster fails loudly naming the fix (raise k), before the
    * quadratic join can run away. */
  def semDedup(df: DataFrame, centroids: Array[Centroid], idCol: String,
      featureCol: String, threshold: Double,
      maxClusterRows: Long = 200000L): DataFrame = {
    val a = assign(df, centroids, featureCol).drop("dist")
    val top = a.groupBy("cluster").agg(count(lit(1)).as("__n"))
      .orderBy(desc("__n")).limit(1).collect()
    top.headOption.foreach { r =>
      require(r.getLong(1) <= maxClusterRows,
        s"semDedup: cluster ${r.getInt(0)} has ${r.getLong(1)} rows > " +
          s"maxClusterRows=$maxClusterRows — the within-cluster pairwise pass " +
          "would blow up; raise k (more, smaller clusters) or the cap")
    }
    val l = a.select(col("cluster"), col(idCol).as("__l_id"), col(featureCol).as("__l_v"))
    val r = a.select(col("cluster"), col(idCol).as("__r_id"), col(featureCol).as("__r_v"))
    val dups = l.join(r, Seq("cluster"))
      .filter(col("__r_id") < col("__l_id"))
      .filter(ScoreFunctions.cosineSimilarity(col("__l_v"), col("__r_v")) >= threshold)
      .select(col("__l_id").as(idCol)).distinct()
    a.join(dups, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- streaming admission

  /** Semantic admission gate — the embedding face of
    * [[graft.streaming.StreamingDedup]]: a curation pipeline does not
    * re-run SemDeDup over the whole corpus per arrival, it routes each
    * micro-batch row to its cluster and compares against the ACCUMULATED
    * corpus members there. A batch row is admitted unless (a) some CORPUS
    * row in its cluster is within cosine ≥ `threshold`, or (b) some
    * SMALLER-id batch row in its cluster is within `threshold` — the same
    * greedy leader rule as [[semDedup]], so corpus and intra-batch checks
    * share one semantics and the whole decision replays in SQL.
    *
    * `assignedCorpus` is the stored state (rows + `cluster`, from
    * [[clusterLoad]] or a prior [[assign]]); it is pruned to the batch's
    * clusters FIRST (left-semi on the tiny batch-cluster set), so with
    * the state stored `partitionBy("cluster")` the per-batch cost is
    * |batch| × occupancy of the touched clusters — independent of total
    * corpus size, the [[semDedup]] small-cluster contract applied
    * incrementally. Id hygiene mirrors the lexical gate: replayed batch
    * ids (within the batch, or already admitted) drop idempotently
    * BEFORE any comparison. Returns admitted rows with their `cluster`. */
  def admitSemantic(rawBatch: DataFrame, assignedCorpus: DataFrame,
      centroids: Array[Centroid], idCol: String, featureCol: String,
      threshold: Double): DataFrame = {
    val batch = rawBatch.dropDuplicates(idCol)
      .join(assignedCorpus.select(col(idCol)), Seq(idCol), "left_anti")
    val b = Materialize.eager(assign(batch, centroids, featureCol).drop("dist"),
      "Clustering.admitSemantic.batch") // corpus join, self join, and the final anti-joins
    val touched = b.select("cluster").distinct()
    val corpusHits = b
      .select(col("cluster"), col(idCol).as("__b_id"), col(featureCol).as("__b_v"))
      .join(assignedCorpus.join(touched, Seq("cluster"), "left_semi")
        .select(col("cluster"), col(featureCol).as("__c_v")), Seq("cluster"))
      .filter(ScoreFunctions.cosineSimilarity(col("__b_v"), col("__c_v")) >= threshold)
      .select(col("__b_id").as(idCol)).distinct()
    val l = b.select(col("cluster"), col(idCol).as("__l_id"), col(featureCol).as("__l_v"))
    val r = b.select(col("cluster"), col(idCol).as("__r_id"), col(featureCol).as("__r_v"))
    val inBatch = l.join(r, Seq("cluster"))
      .filter(col("__r_id") < col("__l_id"))
      .filter(ScoreFunctions.cosineSimilarity(col("__l_v"), col("__r_v")) >= threshold)
      .select(col("__l_id").as(idCol)).distinct()
    b.join(corpusHits, Seq(idCol), "left_anti")
      .join(inBatch, Seq(idCol), "left_anti")
  }

  // ----------------------------------------------------------- persistence

  /** Persist an assigned corpus + its centroids under the engine's
    * versioned-swap protocol (the [[Ann.ivfSave]] shape): data lands in a
    * fresh versioned subdir partitioned by `cluster` (so [[admitSemantic]]
    * and [[semDedup]] over the loaded state prune partitions on the
    * cluster equi-join), then the sidecar — first line the version, then
    * one `id,dim…` line per centroid — renames atomically. A torn write
    * leaves the previous sidecar pointing at the previous complete
    * data+centroids, never new rows under old centroids. `Double.toString`
    * round-trips exactly, so loaded centroids are bit-identical. */
  def clusterSave(dir: String, assigned: DataFrame,
      centroids: Array[Centroid]): Unit = {
    val counts = assigned.groupBy(col("cluster").cast("int").as("__c"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // a zero-row partitionBy write produces NO files (not even schema) and
    // the next load dies with UNABLE_TO_INFER_SCHEMA — a complete purge
    // would brick the state. Empty states write unpartitioned: one
    // schema-bearing empty file, and pruning is moot with no rows.
    // REBALANCE by the partition column before the write (guide §6): a
    // partitionBy write otherwise opens (input partitions × clusters)
    // files — tiny-file fan-out locally AND at scale. AQE sizes the
    // rebalanced partitions (coalesces small, splits a skewed hot
    // cluster), so file count tracks data volume, not task topology.
    graft.model.VersionedDir.commit(assigned.sparkSession, dir, Sidecar,
        sidecarLines(_, centroids, counts)) { path =>
      if (counts.isEmpty)
        assigned.hint("rebalance").write.mode("overwrite").parquet(path)
      else
        assigned.hint("rebalance", col("cluster"))
          .write.mode("overwrite").partitionBy("cluster").parquet(path)
    }
  }

  private val Sidecar = "cluster_centroids.csv"

  /** Sidecar body: the version, then one `id,count,dim…` line per centroid. */
  private def sidecarLines(version: String, centroids: Array[Centroid],
      counts: Map[Int, Long]): Seq[String] =
    version +: centroids.map(c =>
      (Seq(c.id.toString, counts.getOrElse(c.id, 0L).toString) ++
        c.v.map(_.toString)).mkString(",")).toSeq

  /** A loaded persisted cluster state: assigned rows, centroids, and the
    * per-cluster row counts the running-mean update needs. */
  final case class ClusterState(assigned: DataFrame, centroids: Array[Centroid],
      counts: Map[Int, Long])

  /** Load a persisted cluster state: (assigned rows, centroids). */
  def clusterLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Array[Centroid]) = {
    val st = clusterLoadState(spark, dir)
    (st.assigned, st.centroids)
  }

  def clusterLoadState(spark: org.apache.spark.sql.SparkSession,
      dir: String): ClusterState =
    stateAt(spark, dir, graft.model.VersionedDir.readSidecar(spark, dir, Sidecar))

  /** The state a read of the sidecar (`lines`) names. */
  private def stateAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      lines: Seq[String]): ClusterState = {
    val parsed = lines.tail.map { ln =>
      val parts = ln.split(",")
      // field 2 is the per-cluster count, an integer; an older sidecar put
      // the first centroid component (a Double.toString) there
      val count = parts(1).toLongOption
      require(count.isDefined,
        s"$dir/$Sidecar line '$ln' is not id,count,dim… — an older " +
          "cluster state format; rebuild it with clusterSave")
      (Centroid(parts(0).toInt, parts.drop(2).map(_.toDouble)), count.get)
    }
    ClusterState(spark.read.parquet(s"$dir/${lines.head}"),
      parsed.map(_._1).toArray, parsed.map(p => p._1.id -> p._2).toMap)
  }

  /** Maintenance: fold an ADMITTED batch (rows carrying `cluster`, e.g.
    * [[admitSemantic]] output) into the persisted state — the
    * [[Ann.ivfAppend]] / `TextRetrieval.indexAppend` analog, which means
    * the stored quantizer is FIXED: batch rows land as appended files
    * inside the live version (cluster partition pruning keeps working)
    * and the sidecar counts update, but centroids DO NOT move. Moving
    * the routing quantizer without reassigning the stored rows makes the
    * state internally inconsistent — a new row and its stored duplicate
    * can route to different clusters and the gate goes blind (measured:
    * a single 2.5k-row running-mean update leaked 211 of 500 planted
    * exact copies at the 52.5k rehearsal). Quantizer refresh belongs to
    * [[clusterCompact]]`(refresh = true)`, which reassigns every kept
    * row. The sidecar swap is the commit point: a torn append leaves new
    * rows visible under unchanged centroids, which only makes the gate
    * stricter. Returns the updated state view. */
  def clusterAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      admitted: DataFrame): ClusterState = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, Sidecar)
    val version = lines.head
    val st = stateAt(spark, dir, lines)
    // An EMPTY state was written UNPARTITIONED (see clusterSave — a
    // zero-row partitionBy write leaves no files at all): an in-place
    // partitioned append would mix `cluster=` subdirs into a flat layout
    // and the next read dies in partition discovery (ADVICE r9, the
    // purge-then-append hole). Fall back to a FULL versioned save of
    // old ∪ new — atomic under the sidecar swap, and it migrates the
    // layout.
    if (st.counts.values.sum == 0L) {
      val merged = st.assigned.unionByName(
        admitted.select(st.assigned.columns.map(col): _*))
      clusterSave(dir, merged, st.centroids)
      return clusterLoadState(spark, dir)
    }
    val batchCounts = admitted
      .groupBy(col("cluster").cast("int").as("__c"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val counts2 = st.counts.map { case (id, n) =>
      id -> (n + batchCounts.getOrElse(id, 0L)) }
    admitted.select(st.assigned.columns.map(col): _*)
      .hint("rebalance", col("cluster")) // file count ∝ batch volume (guide §6)
      .write.mode("append").partitionBy("cluster").parquet(s"$dir/$version")
    graft.model.VersionedDir.writeSidecar(spark, dir, Sidecar,
      sidecarLines(version, st.centroids, counts2))
    ClusterState(spark.read.parquet(s"$dir/$version"), st.centroids, counts2)
  }

  /** Purge + quantizer-refresh maintenance, the delete counterpart of
    * [[clusterAppend]] (the [[Ann.ivfCompact]] analog): rewrite the
    * stored state keeping only `keepIds` (all rows when None) under the
    * same versioned sidecar swap as a full save, collapsing the
    * appended-file log. With `refresh = true` the kept rows' cluster
    * means become the new centroids and EVERY kept row reassigns to its
    * nearest new centroid — one recompute+assign step that restores the
    * invariant `stored cluster == argmin(current centroids)` (iterate by
    * compacting again; this is a Lloyd pass over the live state).
    * Clusters left empty keep their previous centroid with a zero count
    * — an admission gate must still route near-duplicates of purged
    * content somewhere deterministic. */
  def clusterCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
      keepIds: Option[DataFrame] = None, idCol: String = "vec_id",
      featureCol: String = "embedding",
      refresh: Boolean = false): ClusterState = {
    val st = clusterLoadState(spark, dir)
    // materialize before clusterSave opens writers: the rewrite reads
    // the OLD version while writing the NEW one (the ivfCompact rationale)
    val kept = Materialize.eager(keepIds.fold(st.assigned)(ids =>
      st.assigned.join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_semi")),
      "Clustering.clusterCompact.kept")
    val (rows2, cents2) =
      if (!refresh) (kept, st.centroids)
      else {
        val recomputed = groupCentroids(kept, "cluster", featureCol)
          .map(c => c.id -> c).toMap
        val merged = st.centroids.map(c => recomputed.getOrElse(c.id, c))
        (assign(kept.drop("cluster"), merged, featureCol).drop("dist"), merged)
      }
    clusterSave(dir, rows2, cents2)
    clusterLoadState(spark, dir)
  }
}
