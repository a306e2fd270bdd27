package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.VersionedDir

/** Decoupled attribute store — the Dolma/RedPajama tagger→mixer split: a
  * curation run computes per-document ATTRIBUTES (quality scores, token
  * counts, gate booleans, fingerprints) into a NARROW sidecar table keyed
  * by the document id, and every later filter/mix decision is a JOIN
  * against that sidecar — the 100-TB corpus itself is immutable and never
  * rewritten.
  *
  * Why this is the production shape at scale:
  *  - **Tagging is additive.** A new tagger (a better quality model, a new
  *    gate) writes a NEW sidecar column ([[attrExtend]]) — sidecar-sized
  *    work, zero corpus bytes touched. Re-tagging in-place on a 100 TB
  *    corpus would rewrite 100 TB per tagger iteration.
  *  - **Mix decisions are revisable.** The filter threshold lives in the
  *    read-side predicate ([[filterByAttrs]]), not baked into the data —
  *    sweeping a quality cutoff re-runs a join, not a tagging pass.
  *  - **The join is exchange-free when it matters.** Corpus and sidecar
  *    bucketized on the id ([[graft.sources.Layout.bucketize]]) satisfy
  *    the join's distribution FROM THE LAYOUT — AttributesSpec pins the
  *    no-Exchange plan. Unbucketed, it is one id-keyed shuffle of the
  *    narrow sidecar plus the corpus — still cheaper than any rewrite.
  *
  * Persistence follows the [[VersionedDir]] atomic-swap protocol shared
  * with the ANN/sketch/cluster savers: readers resolve the sidecar first,
  * so append/extend swaps are all-or-nothing. Both maintenance ops
  * ([[attrAppend]] for new documents, [[attrExtend]] for new taggers)
  * rewrite only the sidecar table — bytes-per-row × corpus rows, the
  * narrow-table cost class, never the corpus's.
  *
  * The reference engine has no attribute machinery (its rows carry one
  * opaque label blob, /root/reference/data/data.go); this family is part
  * of the training-data-pipeline brief.
  */
object Attributes {

  val Sidecar = "attr_store.txt"

  /** Compute a wide attribute frame: the id column plus one named column
    * per tagger output. Pure projection — whatever plan the attribute
    * expressions carry (these are the map-side text kernels), tagging is
    * ONE corpus scan for the whole tagger list. */
  def tag(df: DataFrame, id: String, attrs: Seq[(String, Column)]): DataFrame = {
    require(attrs.nonEmpty, "tag: empty attribute list")
    val names = attrs.map(_._1)
    require(names.distinct.size == names.size,
      s"tag: duplicate attribute names in ${names.mkString(", ")}")
    require(!names.map(_.toLowerCase).contains(id.toLowerCase),
      s"tag: attribute name clashes with id column '$id'")
    df.select(col(id) +: attrs.map { case (n, c) => c.as(n) }: _*)
  }

  /** Persist an attribute frame under `dir` (versioned data dir + atomic
    * sidecar swap; the sidecar records the id column and attribute names
    * so maintenance ops can check their contracts without reading data). */
  def attrSave(spark: SparkSession, dir: String, attrs: DataFrame,
      id: String): Unit = {
    require(attrs.columns.contains(id),
      s"attrSave: id column '$id' not in ${attrs.columns.mkString(", ")}")
    VersionedDir.commit(spark, dir, Sidecar, Seq(_, s"id $id",
        s"attrs ${attrs.columns.filter(_ != id).mkString(",")}"))(
      attrs.write.mode("overwrite").parquet(_))
  }

  /** Load the current attribute frame and its id column. */
  def attrLoad(spark: SparkSession, dir: String): (DataFrame, String) = {
    val lines = VersionedDir.readSidecar(spark, dir, Sidecar)
    val idLine = lines(1).split(" ")
    require(idLine(0) == "id", s"malformed attr sidecar: ${lines(1)}")
    (spark.read.parquet(s"$dir/${lines.head}"), idLine(1))
  }

  /** Append attribute rows for NEW documents (same taggers): schemas must
    * carry the same columns, and the new ids must be disjoint from the
    * stored ones — an overlapping append would silently double a document
    * in every later join, so it refuses loudly (the duplicate-probe join
    * is sidecar×batch on the id, stopped at the first hit). Sidecar-sized
    * rewrite; the corpus is untouched. */
  def attrAppend(spark: SparkSession, dir: String, more: DataFrame): Unit = {
    val (stored, id) = attrLoad(spark, dir)
    require(stored.columns.sorted.sameElements(more.columns.sorted),
      s"attrAppend: column mismatch — stored ${stored.columns.sorted.mkString(", ")} " +
        s"vs batch ${more.columns.sorted.mkString(", ")}; for new taggers use attrExtend")
    val dup = stored.select(id).join(more.select(id), id).limit(1).count()
    require(dup == 0L,
      "attrAppend: batch contains ids already in the store — appending them " +
        "would double-count documents in every filterByAttrs join; de-duplicate " +
        "the batch or re-tag via attrSave")
    val merged = Materialize.eager(stored.unionByName(more), "Attributes.attrAppend.merged")
    attrSave(spark, dir, merged, id)
  }

  /** Replace-or-insert attribute rows for a delta batch (same taggers) —
    * the maintenance op a [[SnapshotDiff]] feeds: re-tag `added ∪ changed`
    * and upsert, [[attrRemove]] the removed. One anti-join of the stored
    * sidecar against the batch's ids + union — sidecar-sized, the corpus
    * untouched. Unlike [[attrAppend]], overlapping ids are the POINT
    * (changed docs replace their stale rows). */
  def attrUpsert(spark: SparkSession, dir: String, batch: DataFrame): Unit = {
    val (stored, id) = attrLoad(spark, dir)
    require(stored.columns.sorted.sameElements(batch.columns.sorted),
      s"attrUpsert: column mismatch — stored ${stored.columns.sorted.mkString(", ")} " +
        s"vs batch ${batch.columns.sorted.mkString(", ")}; for new taggers use attrExtend")
    requireUniqueIds(batch, id, "attrUpsert")
    val merged = Materialize.eager(stored.join(batch.select(id), Seq(id), "left_anti")
      .unionByName(batch),
      "Attributes.attrUpsert.merged")
    attrSave(spark, dir, merged, id)
  }

  /** Drop attribute rows for removed documents (`ids`: one id column,
    * any name). Sidecar-sized anti-join rewrite. */
  def attrRemove(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val (stored, id) = attrLoad(spark, dir)
    require(ids.columns.length == 1,
      s"attrRemove: expected a single id column, got ${ids.columns.mkString(", ")}")
    val merged = Materialize.eager(stored.join(
        ids.select(col(ids.columns.head).as(id)).distinct(), Seq(id), "left_anti"),
      "Attributes.attrRemove.merged")
    attrSave(spark, dir, merged, id)
  }

  /** Add NEW TAGGER columns for already-stored documents: LEFT join of the
    * stored sidecar with `more` on the id — documents the new tagger did
    * not cover keep honest NULLs (a later predicate on that column drops
    * them, never silently passes). New column names must not collide with
    * stored ones. Sidecar-sized rewrite; the corpus is untouched. */
  def attrExtend(spark: SparkSession, dir: String, more: DataFrame): Unit = {
    val (stored, id) = attrLoad(spark, dir)
    require(more.columns.contains(id),
      s"attrExtend: id column '$id' not in ${more.columns.mkString(", ")}")
    val clash = more.columns.filter(_ != id)
      .map(_.toLowerCase).toSet
      .intersect(stored.columns.filter(_ != id).map(_.toLowerCase).toSet)
    require(clash.isEmpty,
      s"attrExtend: tagger columns ${clash.mkString(", ")} already stored — " +
        "a re-tag of an existing attribute is a new attrSave, not an extend")
    requireUniqueIds(more, id, "attrExtend")
    val merged = Materialize.eager(stored.join(more, Seq(id), "left"),
      "Attributes.attrExtend.merged")
    attrSave(spark, dir, merged, id)
  }

  /** Loud-refusal duplicate-id probe shared by [[attrUpsert]] and
    * [[attrExtend]] (attrAppend's disjointness check already implies it):
    * a batch with a repeated id would survive the anti-join+union twice —
    * or multiply stored rows via attrExtend's left join — double-counting
    * that document in every later [[filterByAttrs]] join. Bounded probe:
    * groupBy(id) + `limit(1)` stops at the first duplicate. */
  private def requireUniqueIds(batch: DataFrame, id: String, op: String): Unit = {
    val dup = batch.groupBy(id).count().filter(col("count") > 1).limit(1).count()
    require(dup == 0L,
      s"$op: batch contains duplicate ids — a repeated id would store the " +
        "document's attributes more than once and double-count it in every " +
        "filterByAttrs join; de-duplicate the batch first")
  }

  /** Filter the corpus by a predicate over stored attributes: inner
    * equi-join on the id (documents without attribute rows are outside
    * the tagged domain and drop — tag first), predicate evaluated on the
    * joined row, corpus columns returned. Attribute and corpus column
    * names must be disjoint apart from the id, or the predicate would
    * bind ambiguously. Bucketize both sides on the id to make the join
    * exchange-free (spec-pinned); unbucketed it is one id-keyed shuffle. */
  def filterByAttrs(corpus: DataFrame, attrs: DataFrame, id: String,
      pred: Column): DataFrame = {
    val overlap = corpus.columns.filter(_ != id).map(_.toLowerCase).toSet
      .intersect(attrs.columns.filter(_ != id).map(_.toLowerCase).toSet)
    require(overlap.isEmpty,
      s"filterByAttrs: columns ${overlap.mkString(", ")} exist on both sides — " +
        "rename the attribute columns; the predicate would bind ambiguously")
    corpus.join(attrs, Seq(id)).filter(pred)
      .select(corpus.columns.map(col): _*)
  }
}
