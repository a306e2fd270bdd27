package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — "what changed between dataset v1 and v2": the
  * audit every versioned training-data release publishes (docs added,
  * removed, content-changed, untouched), and the input to incremental
  * downstream work (re-tag only `added ∪ changed`, purge state for
  * `removed`).
  *
  * Scale shape (the rsync move): each snapshot is projected MAP-SIDE to
  * `(id, fingerprint)` — 8-ish bytes of content hash instead of the
  * document — so the full-outer join that aligns the two versions
  * shuffles two narrow frames, never the corpus bodies. At 100 TB the
  * diff costs two scans + one id-keyed exchange of ~16 B/row; snapshots
  * bucketed on the id ([[graft.sources.Layout.bucketize]]) drop even
  * that exchange (spec-pinned).
  *
  * "Changed" means FINGERPRINT-changed: the caller picks the fingerprint
  * expression (the queries use [[graft.functions.TextAnalysis.fingerprint]],
  * whose DuckDB spelling replays exactly — so the oracle replays the
  * engine's actual semantic, collisions included; a 1e9-space polyhash
  * collision mislabels a changed doc unchanged with per-doc probability
  * ~1e-9, deterministic for fixed inputs). Swap in a wider hash (e.g.
  * `xxhash64`) when the corpus outgrows that envelope.
  */
object SnapshotDiff {

  val Added = "added"
  val Removed = "removed"
  val Changed = "changed"
  val Unchanged = "unchanged"

  /** Row-level diff: one row per id present in EITHER snapshot, with its
    * status and (optionally) `carry` columns taken from the new side,
    * falling back to the old side for removed rows. `fp` is evaluated
    * against each snapshot independently — both must carry its input
    * columns (and `carry`). */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, id: String, fp: Column,
      carry: Seq[String] = Nil): DataFrame = {
    require(!carry.contains(id), s"carry already includes the id '$id'")
    // presence is its own marker — a NULL-text row fingerprints NULL, and
    // reading fp nullity as absence would mislabel it added/removed; the
    // fp compare is null-safe for the same reason (NULL == NULL content)
    val o = oldSnap.select(
      col(id) +: (carry.map(c => col(c).as(s"__o_$c")) :+
        fp.as("__fp_o") :+ lit(true).as("__in_o")): _*)
    val n = newSnap.select(
      col(id) +: (carry.map(c => col(c).as(s"__n_$c")) :+
        fp.as("__fp_n") :+ lit(true).as("__in_n")): _*)
    val status = when(col("__in_o").isNull, Added)
      .when(col("__in_n").isNull, Removed)
      .when(col("__fp_o") <=> col("__fp_n"), Unchanged)
      .otherwise(Changed)
    o.join(n, Seq(id), "full_outer").select(
      col(id) +: status.as("status") +:
        carry.map(c => coalesce(col(s"__n_$c"), col(s"__o_$c")).as(c)): _*)
  }

  /** The release-notes census: row counts per (carry-dims, status). */
  def census(oldSnap: DataFrame, newSnap: DataFrame, id: String, fp: Column,
      carry: Seq[String] = Nil): DataFrame =
    diff(oldSnap, newSnap, id, fp, carry)
      .groupBy((carry :+ "status").map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
}
