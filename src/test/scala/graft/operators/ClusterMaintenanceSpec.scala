package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Maintenance lifecycle of the persisted cluster state
  * ([[Clustering.clusterAppend]] / [[Clustering.clusterCompact]]): the
  * `ivfAppend`/`ivfCompact` analog for the semantic-gate state. Appends
  * keep the routing quantizer FIXED (moving centroids without
  * reassigning stored rows lets a duplicate route past its original —
  * the 52.5k rehearsal measured 211/500 planted copies leaking under a
  * running-mean update); compact applies purges and, with
  * `refresh = true`, recomputes centroids from kept rows and reassigns
  * every row, restoring `stored cluster == argmin(current centroids)`. */
class ClusterMaintenanceSpec extends SparkTestBase {

  import spark.implicits._

  private def vec(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)

  private def seedState(dir: String): Unit = {
    val base = Seq((1L, vec(1, 0), 0), (2L, vec(0, 1), 1),
      (3L, vec(0.8, 0.2), 0)).toDF("vec_id", "embedding", "label")
    val cents = Clustering.groupCentroids(base, "label", "embedding")
    Clustering.clusterSave(dir,
      Clustering.assign(base, cents, "embedding").drop("dist"), cents)
  }

  test("append keeps the quantizer fixed and tracks counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-capp").toString
    seedState(dir)
    val st0 = Clustering.clusterLoadState(spark, dir)
    assert(st0.counts === Map(0 -> 2L, 1 -> 1L))

    val batch = Clustering.assign(
      Seq((10L, vec(0.6, 0.4), 0), (11L, vec(0.1, 0.9), 1),
        (12L, vec(0.2, 0.8), 1)).toDF("vec_id", "embedding", "label"),
      st0.centroids, "embedding").drop("dist")
    val st1 = Clustering.clusterAppend(spark, dir, batch)

    st0.centroids.zip(st1.centroids).foreach { case (a, b) =>
      assert(a.id == b.id && a.v.sameElements(b.v),
        s"append moved centroid ${a.id}")
    }
    assert(st1.counts === Map(0 -> 3L, 1 -> 3L))
    // appended rows visible through a fresh load, sidecar round-trips
    val st1r = Clustering.clusterLoadState(spark, dir)
    assert(st1r.assigned.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(st1r.counts === st1.counts)
    // the fixed quantizer is what guarantees exact-duplicate rejection:
    // a copy of an appended row routes to the same cluster and rejects
    val replay = Clustering.admitSemantic(
      Seq((99L, vec(0.6, 0.4), 0)).toDF("vec_id", "embedding", "label"),
      st1r.assigned, st1r.centroids, "vec_id", "embedding", threshold = 0.999)
    assert(replay.count() === 0, "copy of appended row must reject")
  }

  test("admission keeps working against appended state; counts track") {
    val dir = java.nio.file.Files.createTempDirectory("graft-capp2").toString
    seedState(dir)
    var st = Clustering.clusterLoadState(spark, dir)
    (1 to 3).foreach { b =>
      val novel = Seq((100L * b, vec(1 + 0.1 * b, -0.2 * b), 0),
        (100L * b + 1, vec(-0.1 * b, 1 + 0.1 * b), 1))
        .toDF("vec_id", "embedding", "label")
      val admitted = Clustering.admitSemantic(novel, st.assigned, st.centroids,
        "vec_id", "embedding", threshold = 0.999)
      st = Clustering.clusterAppend(spark, dir, admitted)
      val reload = Clustering.clusterLoadState(spark, dir)
      assert(reload.counts.values.sum === 3L + 2 * b,
        s"batch $b counts ${reload.counts}")
      // a replayed copy of an admitted row must now reject via the gate
      val replay = Clustering.admitSemantic(
        novel.withColumn("vec_id", $"vec_id" + 5000),
        reload.assigned, reload.centroids, "vec_id", "embedding",
        threshold = 0.999)
      assert(replay.count() === 0, s"batch $b replay admitted")
    }
  }

  test("compact(refresh) recomputes centroids and restores consistency") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ccomp").toString
    seedState(dir)
    var st = Clustering.clusterLoadState(spark, dir)
    (1 to 4).foreach { b =>
      val batch = Clustering.assign(
        Seq((50L + b, vec(0.3 + 0.01 * b, 0.7), 0)).toDF("vec_id", "embedding", "label"),
        st.centroids, "embedding").drop("dist")
      st = Clustering.clusterAppend(spark, dir, batch)
    }
    val preRefresh = Clustering.clusterLoadState(spark, dir)
    val expectedCents = Clustering.groupCentroids(
      preRefresh.assigned, "cluster", "embedding").map(c => c.id -> c.v).toMap
    val refreshed = Clustering.clusterCompact(spark, dir, refresh = true)
    refreshed.centroids.filter(c => expectedCents.contains(c.id)).foreach { c =>
      assert(c.v.zip(expectedCents(c.id)).forall { case (a, b) => a == b },
        s"cluster ${c.id} not the mean of its pre-refresh members")
    }
    // every stored row's cluster == argmin over the refreshed centroids
    val reassigned = Clustering.assign(
      refreshed.assigned.withColumnRenamed("cluster", "stored"),
      refreshed.centroids, "embedding")
    assert(reassigned.filter($"stored" =!= $"cluster").count() === 0,
      "refresh must leave stored assignment consistent with the quantizer")
    assert(refreshed.counts.values.sum === 7L)
  }

  test("empty-batch append is the identity (the zero-admission trigger)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cempty").toString
    seedState(dir)
    val st0 = Clustering.clusterLoadState(spark, dir)
    val empty = Seq.empty[(Long, Seq[Float], Int, Int)]
      .toDF("vec_id", "embedding", "label", "cluster")
    val st1 = Clustering.clusterAppend(spark, dir, empty)
    assert(st1.counts === st0.counts)
    st0.centroids.zip(st1.centroids).foreach { case (a, b) =>
      assert(a.id == b.id && a.v.sameElements(b.v)) }
    val reload = Clustering.clusterLoadState(spark, dir)
    assert(reload.assigned.count() === 3L)
    // a full purge keeps every centroid routable with zero counts
    val purged = Clustering.clusterCompact(spark, dir,
      Some(Seq.empty[Long].toDF("vec_id")), refresh = true)
    assert(purged.assigned.count() === 0L)
    assert(purged.counts.values.forall(_ == 0L))
    assert(purged.centroids.map(_.id).toSeq === st0.centroids.map(_.id).toSeq)
  }

  test("append after a complete purge rebuilds instead of mixing layouts") {
    // a purged state is stored UNPARTITIONED (zero-row partitionBy writes
    // no files at all); an in-place partitioned append would mix
    // `cluster=` subdirs into the flat layout and the next read dies in
    // partition discovery (ADVICE r9) — the append must fall back to a
    // full versioned save
    val dir = java.nio.file.Files.createTempDirectory("graft-cpa").toString
    seedState(dir)
    val purged = Clustering.clusterCompact(spark, dir,
      Some(Seq.empty[Long].toDF("vec_id")))
    assert(purged.counts.values.sum === 0L)

    val batch = Clustering.assign(
      Seq((20L, vec(0.9, 0.1), 0), (21L, vec(0.1, 0.9), 1))
        .toDF("vec_id", "embedding", "label"),
      purged.centroids, "embedding").drop("dist")
    val st = Clustering.clusterAppend(spark, dir, batch)
    assert(st.counts === Map(0 -> 1L, 1 -> 1L))
    // the state must load and serve cleanly after the purge-then-append
    val reload = Clustering.clusterLoadState(spark, dir)
    assert(reload.assigned.select("vec_id").as[Long].collect().toSet ===
      Set(20L, 21L))
    val replay = Clustering.admitSemantic(
      Seq((99L, vec(0.9, 0.1), 0)).toDF("vec_id", "embedding", "label"),
      reload.assigned, reload.centroids, "vec_id", "embedding",
      threshold = 0.999)
    assert(replay.count() === 0, "copy of re-admitted row must reject")
    // and a SECOND append takes the normal partitioned in-place path
    val batch2 = Clustering.assign(
      Seq((22L, vec(0.7, 0.3), 0)).toDF("vec_id", "embedding", "label"),
      reload.centroids, "embedding").drop("dist")
    val st2 = Clustering.clusterAppend(spark, dir, batch2)
    assert(st2.counts === Map(0 -> 2L, 1 -> 1L))
    assert(Clustering.clusterLoadState(spark, dir)
      .assigned.select("vec_id").as[Long].collect().toSet ===
      Set(20L, 21L, 22L))
  }

  test("a count-less sidecar fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-clegacy").toString
    seedState(dir)
    val st0 = Clustering.clusterLoadState(spark, dir)
    // rewrite the sidecar in the pre-r9 format: version line, then
    // `id,dim…` with NO count field — field 2 is a centroid component
    val lines = graft.model.VersionedDir.readSidecar(
      spark, dir, "cluster_centroids.csv")
    val legacy = lines.head +: st0.centroids.map(c =>
      (c.id.toString +: c.v.map(_.toString)).mkString(",")).toSeq
    graft.model.VersionedDir.writeSidecar(
      spark, dir, "cluster_centroids.csv", legacy)
    val e = intercept[IllegalArgumentException](
      Clustering.clusterLoadState(spark, dir))
    assert(e.getMessage.contains(s"$dir/cluster_centroids.csv") &&
      e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("compact purges by id and keeps empty clusters routable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cpurge").toString
    seedState(dir)
    val before = Clustering.clusterLoadState(spark, dir)
    // purge the whole of cluster 1 (vec_id 2), refreshing the quantizer
    val keep = Seq(1L, 3L).toDF("vec_id")
    val st = Clustering.clusterCompact(spark, dir, Some(keep), refresh = true)
    assert(st.assigned.select("vec_id").as[Long].collect().toSet === Set(1L, 3L))
    assert(st.counts === Map(0 -> 2L, 1 -> 0L))
    // the emptied cluster keeps its previous centroid even under refresh:
    // near-duplicates of purged content still route deterministically
    val c1 = st.centroids.find(_.id == 1).get
    val c1before = before.centroids.find(_.id == 1).get
    assert(c1.v.sameElements(c1before.v))
    val batch = Seq((99L, vec(0, 1), 1)).toDF("vec_id", "embedding", "label")
    val admitted = Clustering.admitSemantic(batch, st.assigned, st.centroids,
      "vec_id", "embedding", threshold = 0.95)
    assert(admitted.select("cluster").as[Int].collect().toSeq === Seq(1),
      "purged cluster must re-admit fresh content into the same slot")
  }
}
