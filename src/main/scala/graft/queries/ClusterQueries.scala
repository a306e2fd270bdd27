package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Clustering

/** Embedding-clustering family ([[graft.operators.Clustering]]): exact
  * Lloyd k-means seeded from the label column, cluster statistics, and
  * SemDeDup-style within-cluster semantic dedup — each replayed by a
  * DuckDB oracle (label-mean centroids via unnest/avg/re-list, assignment
  * via a `row_number() OVER (ORDER BY list_distance, cluster)` argmin with
  * the engine's exact tie-break, Lloyd iterations unrolled as CTEs).
  *
  * Determinism was measured before these queries were pinned: at sf0.01
  * the smallest best-vs-second-best assignment margin is 4.2e-6 (pass 1)
  * and 3.0e-6 (pass 2) — nine orders of magnitude above cross-engine
  * mean-arithmetic noise — and the largest NATURAL within-label cosine is
  * 0.475, far under the 0.9 semdedup threshold, so only the planted exact
  * copies (cosine exactly 1.0 on both engines) dedup. No boundary flips. */
object ClusterQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** Corpus with planted exact duplicates for semdedup: vec_id < 40
    * reappear under shifted ids. An exact copy lands in its original's
    * cluster by construction (identical distance vector, same argmin). */
  private def embWithCopies(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    e.unionByName(e.filter(col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + lit(1000000L)))
  }

  private def assignQ(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Clustering.assign(e, Clustering.groupCentroids(e, "label", "embedding"), "embedding")
      .select(col("vec_id"), col("cluster"), round(col("dist"), 6).as("dist"))
  }

  private def lloydQ(s: SparkSession, dir: String): DataFrame =
    Clustering.lloydByGroup(emb(s, dir), "label", "embedding", iters = 2)
      .assigned
      .select(col("vec_id"), col("cluster"), round(col("dist"), 6).as("dist"))

  /** Per-cluster stats off the 2-pass Lloyd assignment — pins the
    * RECOMPUTE-side aggregation (sizes + mean distance to centroid). */
  private def statsQ(s: SparkSession, dir: String): DataFrame =
    Clustering.lloydByGroup(emb(s, dir), "label", "embedding", iters = 2)
      .assigned
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg(col("dist")), 6).as("avg_dist"))

  private def semdedupQ(s: SparkSession, dir: String): DataFrame = {
    val u = embWithCopies(s, dir)
    Clustering.semDedup(u, Clustering.groupCentroids(u, "label", "embedding"),
        "vec_id", "embedding", threshold = 0.9)
      .select(col("vec_id"), col("cluster"))
  }

  /** One round of the semantic admission gate
    * ([[graft.operators.Clustering.admitSemantic]]): corpus = vec_id ≥ 100
    * assigned by its own label-mean centroids; batch = vec_id < 100 plus
    * planted exact copies of ten corpus rows (rejected against the
    * corpus, cosine exactly 1 in-cluster) and of five batch rows (the
    * smaller-id leader survives, the copy drops). Natural cosine tops out
    * at 0.513 corpus-wide — no 0.9-boundary risk. */
  private def gateParts(s: SparkSession, dir: String) = {
    val e = emb(s, dir)
    val corpus0 = e.filter(col("vec_id") >= 100)
    val cents = Clustering.groupCentroids(corpus0, "label", "embedding")
    val corpus = Clustering.assign(corpus0, cents, "embedding").drop("dist")
    val batch = e.filter(col("vec_id") < 100)
      .unionByName(e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .withColumn("vec_id", col("vec_id") + lit(2000000L)))
      .unionByName(e.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + lit(3000000L)))
    (corpus, cents, batch)
  }

  private def admitQ(s: SparkSession, dir: String): DataFrame = {
    val (corpus, cents, batch) = gateParts(s, dir)
    Clustering.admitSemantic(batch, corpus, cents, "vec_id", "embedding",
        threshold = 0.9)
      .select(col("vec_id"), col("cluster"))
  }

  /** The full maintenance round-trip as one verifiable query: persist the
    * corpus state, admit the same batch as `cluster_admit_batch`, fold
    * the survivors in via [[Clustering.clusterAppend]] (fixed quantizer),
    * then [[Clustering.clusterCompact]]`(refresh = true)` — kept-row
    * cluster means become the new centroids and every row reassigns.
    * Output is the refreshed assignment; the oracle replays append as a
    * row union and refresh as mean-recompute + argmin reassignment.
    * Measured at sf0.01: the smallest best-vs-second-best reassignment
    * margin under the refreshed centroids is 9.9e-06 — far above
    * cross-engine mean-arithmetic noise, no boundary flips. */
  private def compactRefreshQ(s: SparkSession, dir: String): DataFrame = {
    val (corpus, cents, batch) = gateParts(s, dir)
    val tmp = Artifacts.scratch("cluster_state")
    Clustering.clusterSave(tmp, corpus, cents)
    val admitted = Clustering.admitSemantic(batch, corpus, cents,
      "vec_id", "embedding", threshold = 0.9)
    Clustering.clusterAppend(s, tmp, admitted)
    val st = Clustering.clusterCompact(s, tmp, refresh = true)
    st.assigned.select(col("vec_id"), col("cluster"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cluster_assign" -> (assignQ _),
    "cluster_lloyd" -> (lloydQ _),
    "cluster_stats" -> (statsQ _),
    "cluster_semdedup" -> (semdedupQ _),
    "cluster_admit_batch" -> (admitQ _),
    "cluster_compact_refresh" -> (compactRefreshQ _))

  // ----------------------------------------------------------- oracle SQL

  /** Elementwise mean per `grp` over CTE `src` (rows: …, grp, v DOUBLE[]):
    * unnest with subscripts, avg per dimension, re-list in order. */
  private[queries] def centSql(src: String, grp: String): String =
    s"""SELECT c, list(m ORDER BY i) AS cv FROM (
       |  SELECT $grp AS c, i, avg(x) AS m FROM (
       |    SELECT $grp, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM $src)
       |  GROUP BY 1, 2) GROUP BY c""".stripMargin

  /** Argmin assignment of CTE `e` (vec_id, …, v) against centroids CTE
    * `cs` (c, cv) — ties break to the lowest cluster id, the engine's
    * strictly-less kernel contract. */
  private[queries] def assignSql(e: String, cs: String): String =
    s"""SELECT vec_id, v, c AS cluster, d AS dist FROM (
       |  SELECT $e.vec_id, $e.v, $cs.c, list_distance($e.v, $cs.cv) AS d,
       |         row_number() OVER (PARTITION BY $e.vec_id
       |                            ORDER BY list_distance($e.v, $cs.cv), $cs.c) AS rn
       |  FROM $e CROSS JOIN $cs) WHERE rn = 1""".stripMargin

  private val E = "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
  private val U =
    """SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |UNION ALL
      |SELECT vec_id + 1000000, label, CAST(embedding AS DOUBLE[]) AS v
      |FROM embeddings WHERE vec_id < 40""".stripMargin

  private val lloyd2Body =
    s"""e AS ($E),
       |c0 AS (${centSql("e", "label")}),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${centSql("a1", "cluster")}),
       |a2 AS (${assignSql("e", "c1")})""".stripMargin

  def oracle: Map[String, String] = Map(
    "cluster_assign" ->
      s"""WITH e AS ($E),
         |c0 AS (${centSql("e", "label")}),
         |a1 AS (${assignSql("e", "c0")})
         |SELECT vec_id, cluster, round(dist, 6) AS dist FROM a1""".stripMargin,
    "cluster_lloyd" ->
      s"""WITH $lloyd2Body
         |SELECT vec_id, cluster, round(dist, 6) AS dist FROM a2""".stripMargin,
    "cluster_stats" ->
      s"""WITH $lloyd2Body
         |SELECT cluster, count(*) AS n, round(avg(dist), 6) AS avg_dist
         |FROM a2 GROUP BY cluster""".stripMargin,
    "cluster_semdedup" ->
      s"""WITH u AS ($U),
         |c0 AS (${centSql("u", "label")}),
         |a1 AS (SELECT vec_id, v, c AS cluster, d AS dist FROM (
         |  SELECT u.vec_id, u.v, c0.c, list_distance(u.v, c0.cv) AS d,
         |         row_number() OVER (PARTITION BY u.vec_id
         |                            ORDER BY list_distance(u.v, c0.cv), c0.c) AS rn
         |  FROM u CROSS JOIN c0) WHERE rn = 1),
         |dup AS (SELECT DISTINCT a.vec_id
         |        FROM a1 a JOIN a1 b ON a.cluster = b.cluster
         |         AND b.vec_id < a.vec_id
         |         AND list_cosine_similarity(a.v, b.v) >= 0.9)
         |SELECT vec_id, cluster FROM a1
         |WHERE vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,
    "cluster_admit_batch" ->
      s"""WITH e AS ($E),
         |cp AS (SELECT * FROM e WHERE vec_id >= 100),
         |c0 AS (${centSql("cp", "label")}),
         |ca AS (${assignSql("cp", "c0")}),
         |bt AS (SELECT vec_id, v FROM e WHERE vec_id < 100
         |       UNION ALL SELECT vec_id + 2000000, v FROM e WHERE vec_id >= 100 AND vec_id < 110
         |       UNION ALL SELECT vec_id + 3000000, v FROM e WHERE vec_id < 5),
         |ba AS (${assignSql("bt", "c0")}),
         |ch AS (SELECT DISTINCT b.vec_id FROM ba b JOIN ca c ON b.cluster = c.cluster
         |        AND list_cosine_similarity(b.v, c.v) >= 0.9),
         |ib AS (SELECT DISTINCT a.vec_id FROM ba a JOIN ba b2 ON a.cluster = b2.cluster
         |        AND b2.vec_id < a.vec_id AND list_cosine_similarity(a.v, b2.v) >= 0.9)
         |SELECT vec_id, cluster FROM ba
         |WHERE vec_id NOT IN (SELECT vec_id FROM ch)
         |  AND vec_id NOT IN (SELECT vec_id FROM ib)""".stripMargin,
    "cluster_compact_refresh" ->
      s"""WITH e AS ($E),
         |cp AS (SELECT * FROM e WHERE vec_id >= 100),
         |c0 AS (${centSql("cp", "label")}),
         |ca AS (${assignSql("cp", "c0")}),
         |bt AS (SELECT vec_id, v FROM e WHERE vec_id < 100
         |       UNION ALL SELECT vec_id + 2000000, v FROM e WHERE vec_id >= 100 AND vec_id < 110
         |       UNION ALL SELECT vec_id + 3000000, v FROM e WHERE vec_id < 5),
         |ba AS (${assignSql("bt", "c0")}),
         |ch AS (SELECT DISTINCT b.vec_id FROM ba b JOIN ca c ON b.cluster = c.cluster
         |        AND list_cosine_similarity(b.v, c.v) >= 0.9),
         |ib AS (SELECT DISTINCT a.vec_id FROM ba a JOIN ba b2 ON a.cluster = b2.cluster
         |        AND b2.vec_id < a.vec_id AND list_cosine_similarity(a.v, b2.v) >= 0.9),
         |u2 AS (SELECT vec_id, v, cluster FROM ca
         |       UNION ALL
         |       SELECT vec_id, v, cluster FROM ba
         |       WHERE vec_id NOT IN (SELECT vec_id FROM ch)
         |         AND vec_id NOT IN (SELECT vec_id FROM ib)),
         |c1m AS (${centSql("u2", "cluster")}),
         |c1 AS (SELECT c0.c, coalesce(c1m.cv, c0.cv) AS cv
         |       FROM c0 LEFT JOIN c1m ON c0.c = c1m.c),
         |a2 AS (${assignSql("u2", "c1")})
         |SELECT vec_id, cluster FROM a2""".stripMargin)
}
