package graft.operators

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.functions.{ScoreFunctions, ScoreKind, VectorMath}

/** The per-partition kNN kernel behind every exact search:
  * [[Search.search]] and [[Search.multiSearch]] (and so every ANN batch
  * path, the shortlist reranks and `Ann.multiRoute`), and
  * [[BudgetedSearch]], which runs its stage 1 ([[scan]]) in partition
  * batches and folds each batch's survivors on the driver through the
  * same stage 2 ([[Merge]]).
  *
  * Plan: the JSON filter stays a Catalyst `Filter` over the data scan;
  * a `Dataset.mapPartitions` over the filtered rows (stage 1, [[Scan]])
  * scores each row against the whole collected query set with
  * [[VectorMath]]'s formulas — the `array<float>` cast on both sides,
  * context re-scoring with Spark's `least`/`greatest` semantics (nulls
  * skipped, NaN above every number, the first of equals kept), and the
  * null/NaN drop. Scoring is a primitive loop: each task decodes the
  * query set once into `float[]`s, reads each row's vector once, and runs
  * VectorMath's `float[]` folds (four queries per pass), bit-identical to
  * its `ArrayData` expression path. Every (query, row) pair is folded
  * into bounded pools: one per query, or one per (query, group) when
  * `groupLimit > 0`, each keeping the best row per dedup key unless
  * `assumeUniqueKeys`. A full ungrouped pool rejects a pair strictly
  * worse than its worst before anything is allocated for it (see
  * [[Scan]] for why a stale threshold is safe). Only the pool survivors
  * leave the task. A second `mapPartitions` after one shuffle
  * ([[Merge]]) folds them into the same pools again and does the
  * group-score and top-k step; a batch shuffles on `query_id`, a single
  * query to one partition, and ends in `orderBy.limit`. A single
  * ungrouped query with unique keys needs no merge: `orderBy.limit`
  * alone is its `TakeOrderedAndProject` merge.
  * Both maps read and write rows of Catalyst's internal values
  * ([[org.apache.spark.sql.graft.Bridge.internalRowEncoder]]), so no
  * scanned or shuffled row is decoded field by field; only what a pool
  * keeps is copied.
  *
  * Soundness of per-partition pools: pool order is a total preorder on
  * (score, tie-break), and dedup keeps one row per key. Suppose a key's
  * best row in partition P ranks below k other distinct keys' rows in
  * P's pool. Each of those k keys has a global best at least as good as
  * its row in P, so globally k distinct keys beat the key's row from P,
  * and that row is not in the global top-k either — truncating P's pool
  * never drops a row the exact answer needs. A key's best row elsewhere
  * reaches the merge through its own partition. Grouped pools are the
  * same argument per (query, group), which holds when a key cannot span
  * groups: keys cover the group column, or there is no dedup. The one
  * config outside that is [[keysSpanGroups]]: [[Search]] plans it
  * relationally and [[scan]] refuses it. */
private[operators] object KnnKernel {

  /** The collected query side. `schema` is `query_id`, the vector cast
    * to `array<float>`, then the `joinCols` values — or None for a single
    * query, whose one row holds (null, vector). */
  final case class Queries(rows: Array[Row], schema: Option[StructType]) {
    def single: Boolean = schema.isEmpty
  }

  def singleQuery(query: Seq[Float]): Queries =
    Queries(Array(Row(null, query)), None)

  // ------------------------------------------------------------ ordering

  /** Driver/executor-side mirror of `Search.orderCols`' tie-break:
    * natively-typed ascending with nulls first, exactly what `col.asc`
    * does — shared with [[Dedup.driverOrd]] for the types it covers. */
  def nativeOrd(dt: DataType): Ordering[Any] = {
    val base = Dedup.driverOrd(dt).getOrElse(dt match {
      case DoubleType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int = java.lang.Double.compare(
          a.asInstanceOf[Double], b.asInstanceOf[Double])
      }
      case FloatType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int = java.lang.Float.compare(
          a.asInstanceOf[Float], b.asInstanceOf[Float])
      }
      case ByteType => Ordering.by((x: Any) => x.asInstanceOf[Byte])
      case BinaryType => new Ordering[Any] { // unsigned, as Spark orders binary
        def compare(a: Any, b: Any): Int = org.apache.spark.unsafe.types.ByteArray
          .compareBinary(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
      }
      case BooleanType => Ordering.by((x: Any) => x.asInstanceOf[Boolean])
      case DateType | TimestampType | TimestampNTZType | _: DecimalType =>
        new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            a.asInstanceOf[Comparable[Any]].compareTo(b)
        }
      case other => throw new IllegalArgumentException(
        s"Search: tieBreakCol type ${other.catalogString} has no " +
          "driver-side ordering — use a numeric, string, boolean, binary, " +
          "date/timestamp or decimal tie-break column")
    })
    new Ordering[Any] with Serializable { // col.asc = nulls FIRST
      def compare(a: Any, b: Any): Int =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else base.compare(a, b)
    }
  }

  /** Total "better first" ordering of rows holding internal values: score
    * in the config's direction, then the tie-break column in its NATIVE
    * ordering (never stringly), converted before it is compared. */
  private def rowOrdering(schema: StructType, cfg: SearchConfig,
      scoreIdx: Int): Ordering[Row] = {
    val sign = if (cfg.higherIsBetter) -1 else 1
    val tie = cfg.tieBreakCol.map { c =>
      val i = schema.fieldIndex(c)
      (i, nativeOrd(schema(i).dataType), toScala(schema(i).dataType))
    }
    new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val s = sign * java.lang.Double.compare(
          a.get(scoreIdx).asInstanceOf[Number].doubleValue(),
          b.get(scoreIdx).asInstanceOf[Number].doubleValue())
        if (s != 0) s
        else tie match {
          case Some((i, ord, conv)) => ord.compare(conv(a.get(i)), conv(b.get(i)))
          case None => 0
        }
      }
    }
  }

  /** Value-equality normalization for map keys: JVM arrays (binary
    * columns) compare by reference, which would defeat dedup. */
  def normKey(v: Any): Any = v match {
    case a: Array[Byte] => a.toSeq
    case a: Array[_] => a.toSeq
    case x => x
  }

  /** Grouped, with dedup keys that miss the group column: a key may then
    * surface in several groups, and a member truncated from one
    * partition's group pool can re-enter the exact answer when another
    * partition's better same-key row lands in a DIFFERENT group — bounded
    * per-partition group pools are not exact for it. No key columns with
    * dedup on is one key for every row, which spans every group.
    * [[Search]] plans such a config relationally and [[scan]] refuses it.
    * (The reference's dedup key is the serialized DatumKey, which
    * contains the group label, veriservice.proto:56-63, so it never spans
    * groups.) */
  def keysSpanGroups(cfg: SearchConfig): Boolean =
    cfg.groupLimit > 0 && !cfg.assumeUniqueKeys && !cfg.keyCols.contains(cfg.groupLabelCol)

  // ------------------------------------------------------------ pools

  /** Bounded best-k pool of [[Hit]]s. `keyOf` null: a plain worst-first
    * bounded heap (O(log k) per accepted hit, O(1) reject against the
    * heap max). `keyOf` non-null: exact best-per-key dedup inside the k
    * slots (≤ k tracked keys — correct because once a key is evicted the
    * pool's worst entry only ever improves, so the evicted key's best can
    * never re-enter the top-k without a strictly better row, which
    * re-inserts it); a full pool rejects anything no better than its
    * cached worst before computing the key, and an accepted
    * insert/eviction pays an O(k) rescan. A hit's first `nKept` row
    * values are copied out of the scan's reused buffers ([[Src.keep]])
    * only once a pair of it is stored. Pool emptiness is tracked
    * SEPARATELY from `worstKey` (`hasWorst`): a legitimate NULL dedup-key
    * value must never read as "no worst yet", or a new key would displace
    * the cached worst unconditionally and the exactness invariant above
    * would silently break on nullable keyCols. */
  private final class Pool(k: Int, ord: Ordering[Hit], keyOf: Hit => Any, nKept: Int) {
    // PriorityQueue dequeues the ord-LARGEST element = the worst
    // ("smaller is better" ordering), so overflow drops the worst
    private val heap =
      if (keyOf == null) mutable.PriorityQueue.empty[Hit](ord) else null
    private val best =
      if (keyOf == null) null else mutable.HashMap.empty[Any, Hit]
    private var worstKey: Any = null
    private var worst: Hit = null
    private var hasWorst = false
    private def rescanWorst(): Unit = {
      var wk: Any = null; var wr: Hit = null
      var found = false
      best.foreach { case (key, e) =>
        if (!found || ord.compare(e, wr) > 0) { wk = key; wr = e; found = true }
      }
      worstKey = wk
      worst = wr
      hasWorst = found
    }
    def add(e: Hit): Unit = {
      if (k <= 0) return // limit 0 == the deterministic path's empty limit(0)
      if (heap != null) {
        // reject BEFORE keeping: a row no better than the full heap's
        // worst must not pay the admission copy
        if (heap.size >= k && ord.compare(e, heap.head) >= 0) return
        e.src.keep(nKept)
        heap.enqueue(e)
        if (heap.size > k) heap.dequeue()
        return
      }
      // full pool: a new key must beat the worst to displace it, and a
      // present key's entry is no worse than the worst, so anything no
      // better than the worst is rejected without hashing its key
      if (best.size >= k && ord.compare(e, worst) >= 0) return
      val key = keyOf(e)
      best.get(key) match {
        case Some(cur) =>
          if (ord.compare(e, cur) < 0) {
            e.src.keep(nKept)
            best(key) = e
            if (hasWorst && key == worstKey) rescanWorst()
          }
        case None =>
          e.src.keep(nKept)
          if (best.size < k) {
            best(key) = e
            if (!hasWorst || ord.compare(e, worst) > 0) {
              worstKey = key
              worst = e
              hasWorst = true
            }
          } else { // strictly better than the worst (checked above)
            best -= worstKey
            best(key) = e
            rescanWorst()
          }
      }
    }
    def size: Int = if (heap != null) heap.size else best.size
    def rows: Iterator[Hit] =
      if (heap != null) heap.iterator else best.valuesIterator
    /** The worst hit once the pool holds k, else null. It only ever
      * improves from then on: an admission replaces the worst or an entry
      * by something better. */
    def worstIfFull: Hit =
      if (k <= 0 || size < k) null
      else if (heap != null) heap.head
      else worst
  }

  /** One bounded pool per query (ungrouped) or per (query, group)
    * (grouped): the scan's per-task pools and the [[Merge]]'s. Hits are
    * ordered as `Search` orders rows (score, then the native tie-break of
    * `tieType`, null for none); the dedup key is the row's `keyIdx`
    * values, computed on first demand (only pairs that pass a full pool's
    * worst need it; no key columns: one key for every row, as `groupBy()`
    * has). Dedup and group keys are copies of internal values, which
    * compare by value (`UTF8String`, `UnsafeArrayData` by their bytes).
    * `qKeyOf` gives a hit's query key. Folding pools through a fresh state
    * is exact by the associativity of best-per-key-then-top-k
    * (ungrouped) / per-group best-per-key-then-top-groupLimit when keys
    * cannot span groups (grouped). */
  private final class PoolState(cfg: SearchConfig, k: Int, tieType: DataType,
      keyIdx: Array[Int], nKept: Int, qKeyOf: Hit => Any) {
    private val gL = cfg.groupLimit
    private val ord: Ordering[Hit] = {
      val sign = if (cfg.higherIsBetter) -1 else 1
      val tieOrd = if (tieType != null) nativeOrd(tieType) else null
      new Ordering[Hit] {
        def compare(a: Hit, b: Hit): Int = {
          val s = sign * java.lang.Double.compare(a.score, b.score)
          if (s != 0 || tieOrd == null) s else tieOrd.compare(a.src.tie, b.src.tie)
        }
      }
    }
    private val keyOf: Hit => Any =
      if (cfg.assumeUniqueKeys) null
      else h => {
        val s = h.src
        if (!s.keyed) {
          s.key =
            if (keyIdx.length == 1) InternalRow.copyValue(s.row.get(keyIdx(0)))
            else keyIdx.map(i => InternalRow.copyValue(s.row.get(i))).toSeq
          s.keyed = true
        }
        s.key
      }
    private val pools = mutable.HashMap.empty[Any, Pool]
    /** The pool under key `pk`, made on first use. */
    def pool(pk: Any): Pool =
      pools.getOrElseUpdate(pk, new Pool(if (gL > 0) gL else k, ord, keyOf, nKept))
    def add(h: Hit): Unit =
      pool(if (gL > 0) (qKeyOf(h), h.src.group) else qKeyOf(h)).add(h)
    def rowCount: Long = pools.valuesIterator.map(_.size.toLong).sum
    def elements: Iterator[Hit] = pools.valuesIterator.flatMap(_.rows)
    /** (pool key, pool) pairs — ungrouped key is the query key, grouped
      * key is (query key, group value). */
    def entries: Iterator[(Any, Pool)] = pools.iterator
  }

  // ------------------------------------------------------------ finalize

  /** Ungrouped finalize: each pool already holds the deduped best ≤ k
    * rows; sort each by the config's order + native tie-break and
    * truncate to k — best-first within each query. */
  private def topRows(pools: Iterator[(Any, Seq[Row])], k: Int,
      ord: Ordering[Row]): Iterator[Row] =
    pools.flatMap { case (_, rows) => rows.sorted(ord).take(k) }

  /** The merge's output schema over [[hitSchema]] `hits`: the hits
    * themselves, or, grouped, the query id (a batch), group, group score,
    * then the representative's other columns. */
  def mergedSchema(hits: StructType, cfg: SearchConfig, single: Boolean): StructType =
    if (cfg.groupLimit == 0) hits
    else {
      val (qIdx, groupIdx, scoreIdx) = (if (single) -1 else 0,
        hits.fieldIndex(cfg.groupLabelCol), hits.fieldIndex(Search.ScoreCol))
      StructType(
        (if (qIdx >= 0) Seq(hits(qIdx)) else Nil) ++
          Seq(hits(groupIdx), StructField(Search.ScoreCol, DoubleType, nullable = true)) ++
          hits.fields.indices.filter(i => i != qIdx && i != groupIdx && i != scoreIdx)
            .map(hits.fields))
    }

  /** Grouped finalize (A3+A4): each (query, group) pool holds the deduped
    * top-`groupLimit` members; the group score is their sum
    * (higherIsBetter) or sum/len², folded BEST-FIRST, the representative
    * is the best member, and each query keeps its top-k group rows by
    * the same order + the representative's tie-break, best-first. Rows
    * follow [[mergedSchema]]. */
  private def groupRows(pools: Iterator[(Any, Seq[Row])], schema: StructType,
      cfg: SearchConfig, k: Int, qIdx: Int, scoreIdx: Int, ord: Ordering[Row],
      groupIdx: Int): Iterator[Row] = {
    val payloadIdx = schema.fields.indices.filter { i =>
      i != qIdx && i != groupIdx && i != scoreIdx
    }
    val sign = if (cfg.higherIsBetter) -1 else 1
    val tie = cfg.tieBreakCol.map { c =>
      (schema.fieldIndex(c), nativeOrd(schema(c).dataType), toScala(schema(c).dataType))
    }
    final case class GroupRow(score: Double, rep: Row, groupVal: Any)
    val groupOrd = new Ordering[GroupRow] {
      def compare(a: GroupRow, b: GroupRow): Int = {
        val s = sign * java.lang.Double.compare(a.score, b.score)
        if (s != 0) s
        else tie match {
          case Some((i, o, conv)) => o.compare(conv(a.rep.get(i)), conv(b.rep.get(i)))
          case None => 0
        }
      }
    }
    val perQuery = pools.toSeq.groupBy { case (pk, _) =>
      pk.asInstanceOf[(Any, Any)]._1
    }
    perQuery.valuesIterator.flatMap { entries =>
      val groups = entries.iterator.flatMap { case (_, rows) =>
        val top = rows.sorted(ord).take(cfg.groupLimit)
        if (top.isEmpty) None
        else {
          val sum = top.foldLeft(0d)((acc, r) =>
            acc + r.get(scoreIdx).asInstanceOf[Number].doubleValue())
          val score = if (cfg.higherIsBetter) sum else sum / (top.size * top.size)
          Some(GroupRow(score, top.head, top.head.get(groupIdx)))
        }
      }
      groups.toSeq.sorted(groupOrd).take(k).map { g =>
        val vals =
          (if (qIdx >= 0) Seq(g.rep.get(qIdx)) else Nil) ++
            Seq(g.groupVal, g.score) ++ payloadIdx.map(g.rep.get)
        Row.fromSeq(vals)
      }
    }
  }

  // ------------------------------------------------------------ kernel

  /** A scanned row shared by every pair it forms: its tie-break and
    * group values, its dedup key, computed on first demand (only pairs
    * that pass a full pool's worst need it), and a copy of its values,
    * taken once its first pair is stored. `row` holds Catalyst's
    * internal values and is only read while it is the current row; `q`
    * is its query key in the merge (the scan keys pairs by `Hit.qi`). */
  private final class Src(val row: Row, val tie: Any, val group: Any, val q: Any) {
    var key: Any = null
    var keyed = false
    var kept: Array[Any] = null
    /** Copies the row's first `n` values, the first time it is called. */
    def keep(n: Int): Unit =
      if (kept == null) kept = Array.tabulate(n)(i => InternalRow.copyValue(row.get(i)))
  }

  /** One scored (query row, data row) pair. */
  private final class Hit(val score: Double, val qi: Int, val src: Src)

  /** The query or context vectors one task scores against, decoded once
    * from the row encoder's Seq of boxed floats: `vecs(i)` is null for a
    * null vector, `nan(i)` marks one holding a null element (which
    * [[VectorMath]] scores NaN against everything), and `norms(i)` is its
    * squared norm when the kind needs it. */
  private final class Side(raw: Seq[Any], sc: RowScorer) {
    val n: Int = raw.length
    val vecs = new Array[Array[Float]](n)
    val nan = new Array[Boolean](n)
    val norms = new Array[Double](n)
    for ((v, i) <- raw.iterator.zipWithIndex) v match {
      case null =>
      case s: scala.collection.Seq[_] =>
        if (s.contains(null)) nan(i) = true
        else {
          val f = s.iterator.map(_.asInstanceOf[Float]).toArray
          vecs(i) = f
          norms(i) = sc.norm(f, f.length)
        }
    }
  }

  /** One kind's [[VectorMath]] formula over decoded vectors: a fold over
    * n = min(len) elements, then the finish. A row scores against four
    * side vectors of one length in one pass ([[VectorMath.fold4]]); the
    * rest, ragged blocks and the remainder, one by one. */
  private final class RowScorer(kind: ScoreKind) {
    private val term = VectorMath.term(kind)
    private val normed = kind == ScoreKind.Cosine || kind == ScoreKind.Angular

    /** The squared norm of `a`'s first `len` floats, if the kind uses it. */
    def norm(a: Array[Float], len: Int): Double =
      if (normed) VectorMath.normSq(a, len) else 0d

    /** Row `a` (its first `la` floats, squared norm `aa`) against side
      * vector `j`; NaN for a null element, and for a null vector, which
      * the caller skips. */
    def one(a: Array[Float], la: Int, aa: Double, side: Side, j: Int): Double = {
      val b = side.vecs(j)
      if (b == null) Double.NaN
      else VectorMath.finish(kind, VectorMath.fold(term, a, b, math.min(la, b.length)),
        aa, side.norms(j))
    }

    /** The fold length of row `a` (`la` floats) against side vector `q`,
      * or -1 for a null vector. */
    private def foldLen(la: Int, side: Side, q: Int): Int = {
      val b = side.vecs(q)
      if (b == null) -1 else math.min(la, b.length)
    }

    /** `out(j)` = row `a` against side vector `targets(j)`, as [[one]]
      * scores it; four targets of one fold length share a pass. */
    def all(a: Array[Float], la: Int, aa: Double, side: Side, targets: Array[Int],
        out: Array[Double]): Unit = {
      val nt = targets.length
      var j = 0
      while (j + 4 <= nt) {
        val q0 = targets(j); val q1 = targets(j + 1)
        val q2 = targets(j + 2); val q3 = targets(j + 3)
        val n = foldLen(la, side, q0)
        if (n >= 0 && n == foldLen(la, side, q1) && n == foldLen(la, side, q2) &&
            n == foldLen(la, side, q3)) {
          VectorMath.fold4(term, a, side.vecs(q0), side.vecs(q1), side.vecs(q2),
            side.vecs(q3), n, out, j)
          out(j) = VectorMath.finish(kind, out(j), aa, side.norms(q0))
          out(j + 1) = VectorMath.finish(kind, out(j + 1), aa, side.norms(q1))
          out(j + 2) = VectorMath.finish(kind, out(j + 2), aa, side.norms(q2))
          out(j + 3) = VectorMath.finish(kind, out(j + 3), aa, side.norms(q3))
          j += 4
        } else { out(j) = one(a, la, aa, side, q0); j += 1 }
      }
      while (j < nt) { out(j) = one(a, la, aa, side, targets(j)); j += 1 }
    }
  }

  /** `c` strictly beats `r` under Spark's `greatest` (hib) / `least`
    * comparison: SQL double order, NaN above every number, -0.0 == 0.0. */
  private def beats(hib: Boolean, c: Double, r: Double): Boolean = {
    val cmp = if (c == r) 0 else java.lang.Double.compare(c, r)
    if (hib) cmp > 0 else cmp < 0
  }

  /** The join key of a row over `idx` (each field read by `get`), or null
    * when a component is null (an equi-join never matches a null key). */
  private def joinKey(r: Row, idx: Array[Int], get: Int => Any): Any =
    if (idx.exists(r.isNullAt)) null
    else if (idx.length == 1) get(idx(0))
    else idx.map(get).toSeq

  /** Internal → external for one field (keys, tie-breaks, groups). */
  private def toScala(dt: DataType): Any => Any = {
    val c = CatalystTypeConverters.createToScalaConverter(dt)
    v => if (v == null) null else c(v)
  }

  /** The [[Src]] of a row holding internal values; `tie` converts the
    * tie-break value for [[nativeOrd]]. */
  private def src(r: Row, tie: Any => Any, tieIdx: Int, groupIdx: Int, q: Any): Src =
    new Src(r,
      if (tieIdx >= 0) tie(r.get(tieIdx)) else null,
      if (groupIdx >= 0) InternalRow.copyValue(r.get(groupIdx)) else null,
      q)

  /** Stage 1: score one partition's rows against every query, keep the
    * bounded pools, emit the survivors as (query_id?, data…, score). Rows
    * in and out hold Catalyst's internal values
    * ([[Bridge.internalRowEncoder]]): each row's vector is read once into
    * a `float[]`, and only the values the pools keep are copied.
    *
    * The per-row loop: a row whose vector holds a null element scores NaN
    * against every query and context vector, so it forms no pair and is
    * dropped after one null check. Otherwise the row is scored against
    * its target queries by [[RowScorer.all]] and every pair is offered
    * to its pool. An ungrouped pool is reached by query index, and once
    * it holds k a pair strictly worse than its worst score is dropped
    * before anything is allocated for it; an equal score still takes the
    * pool's full (score, tie-break) compare. The threshold is kept per
    * query row and read from the pool after each admission. Query rows
    * that share a query id (one per probed cell or band under `joinCols`)
    * share its pool, so a row's threshold can be stale: the pool's worst
    * only ever improves, so a stale threshold is only looser, and
    * dropping what is strictly worse than it drops nothing the pool would
    * keep. Grouped pools, keyed by (query, group), take every defined pair. */
  private final class Scan(cfg: SearchConfig, k: Int, schema: StructType, nData: Int,
      vecIdx: Int, tieIdx: Int, groupIdx: Int, keyIdx: Array[Int],
      joinIdx: Array[Int], queries: Broadcast[Queries]) extends Serializable {

    def apply(rows: Iterator[Row]): Iterator[Row] = {
      val qs = queries.value
      val nq = qs.rows.length
      val scorer = new RowScorer(ScoreFunctions.resolve(cfg.scoreFuncName))
      val qv = new Side(qs.rows.toSeq.map(_.get(1)), scorer)
      val ctx = new Side(cfg.context.vectors, scorer)
      val qKeys: Array[Any] = qs.rows.map(r => if (qs.single) () else normKey(r.get(0)))
      val qIds: Array[Any] = qs.schema.map { sc =>
        val c = CatalystTypeConverters.createToCatalystConverter(sc(0).dataType)
        qs.rows.map(r => c(r.get(0)))
      }.orNull
      val conv = schema.fields.map(f => toScala(f.dataType))
      def ext(r: Row, i: Int): Any = normKey(conv(i)(r.get(i)))
      val tie = if (tieIdx >= 0) conv(tieIdx) else null
      val qJoin = Array.tabulate(joinIdx.length)(_ + 2)
      val targets: Row => Array[Int] =
        if (joinIdx.isEmpty) { val all = Array.range(0, nq); _ => all }
        else {
          val byKey = mutable.HashMap.empty[Any, mutable.ArrayBuilder.ofInt]
          for (i <- 0 until nq) {
            val q = qs.rows(i)
            val key = joinKey(q, qJoin, j => normKey(q.get(j)))
            if (key != null) byKey.getOrElseUpdate(key, new mutable.ArrayBuilder.ofInt) += i
          }
          val m = byKey.map { case (key, b) => key -> b.result() }
          val none = Array.emptyIntArray
          r => {
            val key = joinKey(r, joinIdx, (i: Int) => ext(r, i))
            if (key == null) none else m.getOrElse(key, none)
          }
        }
      val hib = cfg.higherIsBetter
      val prioritize = cfg.context.prioritize && ctx.n > 0
      val st = new PoolState(cfg, k, if (tieIdx >= 0) schema(tieIdx).dataType else null,
        keyIdx, nData, h => qKeys(h.qi))
      // ungrouped: each query row's pool and its admission threshold, as
      // sign·score (smaller is better); +∞ until the pool is full
      val pools = if (cfg.groupLimit > 0) null else qKeys.map(st.pool)
      val sign = if (hib) -1d else 1d
      val thr = Array.fill(nq)(Double.PositiveInfinity)
      var buf = new Array[Float](0)
      val own = new Array[Double](nq)

      while (rows.hasNext) {
        val r = rows.next()
        val qi = targets(r)
        // a null vector scores null against every query and context
        if (qi.nonEmpty && !r.isNullAt(vecIdx)) {
          val v = r.get(vecIdx).asInstanceOf[ArrayData]
          val la = v.numElements()
          if (buf.length < la) buf = new Array[Float](la)
          var i = 0
          while (i < la && !v.isNullAt(i)) { buf(i) = v.getFloat(i); i += 1 }
          if (i == la) {
            val aa = scorer.norm(buf, la)
            // least/greatest over (own, ctx…) folds left keeping the first
            // of equals, so the context's best can be folded once per row
            var hasCtx = false
            var ctxBest = 0d
            var c = 0
            while (c < ctx.n) {
              if (ctx.vecs(c) != null || ctx.nan(c)) {
                val s = scorer.one(buf, la, aa, ctx, c)
                if (!hasCtx || beats(hib, s, ctxBest)) { ctxBest = s; hasCtx = true }
              }
              c += 1
            }
            if (!prioritize) scorer.all(buf, la, aa, qv, qi, own)
            var src: Src = null
            var j = 0
            while (j < qi.length) {
              val q = qi(j)
              var defined = true
              val s =
                if (prioritize) { defined = hasCtx; ctxBest }
                else if (qv.vecs(q) == null && !qv.nan(q)) { defined = hasCtx; ctxBest }
                else if (hasCtx && beats(hib, ctxBest, own(j))) ctxBest
                else own(j)
              if (defined && !s.isNaN && !(sign * s > thr(q))) {
                if (src == null) src = KnnKernel.src(r, tie, tieIdx, groupIdx, null)
                val h = new Hit(s, q, src)
                if (pools == null) st.add(h)
                else {
                  val pool = pools(q)
                  pool.add(h)
                  val w = pool.worstIfFull
                  if (w != null) thr(q) = sign * w.score
                }
              }
              j += 1
            }
          }
        }
      }
      st.elements.map { h =>
        val vals = new Array[Any](nData + (if (qs.single) 1 else 2))
        var o = 0
        if (!qs.single) { vals(0) = qIds(h.qi); o = 1 }
        System.arraycopy(h.src.kept, 0, vals, o, nData)
        vals(o + nData) = h.score
        Row.fromSeq(ArraySeq.unsafeWrapArray(vals))
      }
    }
  }

  /** Stage 2, the one fold every kernel search merges through: the
    * survivors of any set of partitions, folded into the scan's pools,
    * then the group-score and top-k step. [[plan]] folds each shuffled
    * partition in a task; [[BudgetedSearch]] folds each finished batch of
    * partitions on the driver. Rows in and out hold internal values, as
    * in [[Scan]]; `hits` is their [[hitSchema]] and `single` marks one
    * query, whose data may carry a `query_id`. */
  final class Merge(cfg: SearchConfig, hits: StructType, single: Boolean) {
    private val k = Search.topK(cfg)
    private val qIdx = if (single) -1 else 0
    private val scoreIdx = hits.fieldIndex(Search.ScoreCol)
    private val groupIdx = if (cfg.groupLimit > 0) hits.fieldIndex(cfg.groupLabelCol) else -1
    private val tieIdx = cfg.tieBreakCol.map(hits.fieldIndex).getOrElse(-1)
    private val tie = if (tieIdx >= 0) toScala(hits(tieIdx).dataType) else null
    private val st = new PoolState(cfg, k, if (tieIdx >= 0) hits(tieIdx).dataType else null,
      if (cfg.assumeUniqueKeys) Array.emptyIntArray
      else cfg.keyCols.map(hits.fieldIndex).toArray,
      hits.length, h => h.src.q)

    /** The finished rows' schema ([[mergedSchema]]). */
    val schema: StructType = mergedSchema(hits, cfg, single)

    def add(rows: Iterator[Row]): Unit =
      while (rows.hasNext) {
        val r = rows.next()
        val q = if (qIdx >= 0) InternalRow.copyValue(r.get(qIdx)) else ()
        st.add(new Hit(r.getDouble(scoreIdx), -1, src(r, tie, tieIdx, groupIdx, q)))
      }

    /** The rows the pools hold now. */
    def rowCount: Long = st.rowCount

    /** Each query's finished rows, best-first, one query after another. */
    def result: Iterator[Row] = {
      val ord = rowOrdering(hits, cfg, scoreIdx)
      val pools = st.entries.map { case (pk, pool) =>
        pk -> pool.rows.map(h => Row.fromSeq(ArraySeq.unsafeWrapArray(h.src.kept))).toSeq
      }
      if (cfg.groupLimit == 0) topRows(pools, k, ord)
      else groupRows(pools, hits, cfg, k, qIdx, scoreIdx, ord, groupIdx)
    }
  }

  /** Stage 1's output schema over `data`: the query id (a batch), the
    * data columns, then the score. It is the schema the relational plan
    * declares: its dedup (`min_by`'s struct) and group (the
    * representative) aggregates make every column but the query id and
    * the grouping key nullable, and the score is nullable throughout. */
  def hitSchema(data: StructType, qs: Queries, cfg: SearchConfig): StructType = {
    val gL = cfg.groupLimit
    val dedup = !cfg.assumeUniqueKeys
    val dataFields = data.fields.map { f =>
      if ((dedup || gL > 0) && !(gL > 0 && !dedup && f.name == cfg.groupLabelCol))
        f.copy(nullable = true)
      else f
    }
    StructType(qs.schema.map(_(Search.QueryIdCol)).toSeq ++ dataFields :+
      StructField(Search.ScoreCol, DoubleType, nullable = true))
  }

  /** Stage 1 alone: the pool survivors of each partition of the
    * JSON-filtered `data`, holding internal values, in [[hitSchema]] —
    * one output partition per scanned partition. Lazy: no job runs here.
    * Every kernel search enters here, so the input checks live here:
    * `data` may not carry `score`, nor, for a batch, `query_id`, and a
    * config whose [[keysSpanGroups]] is refused. */
  def scan(data: DataFrame, qs: Queries, cfg: SearchConfig,
      joinCols: Seq[String]): Dataset[Row] = {
    Search.requireFreeColumns(data,
      Search.ScoreCol +: (if (qs.single) Nil else Seq(Search.QueryIdCol)),
      if (qs.single) "search" else "multiSearch")
    require(!keysSpanGroups(cfg),
      s"KnnKernel: grouped top-k with dedup keys ${cfg.keyCols.mkString("[", ", ", "]")} " +
        s"that do not cover the group column '${cfg.groupLabelCol}' cannot run on " +
        "bounded per-partition pools (a key may span groups, so truncating a " +
        "partition's group pool is not exact) — add the group column to keyCols, " +
        "set assumeUniqueKeys, or use Search.search/multiSearch, which plan it relationally")
    val filtered = data.filter(Search.passesFilters(cfg))
    val nData = data.columns.length
    // score against array<float>, cast by Catalyst exactly as the
    // expression path casts; an array<float> column is read as is
    val input = data.schema(cfg.featureCol).dataType match {
      case ArrayType(FloatType, _) => filtered
      case _ =>
        val kv = Iterator.from(0).map(i => s"__kv$i").find(!data.columns.contains(_)).get
        filtered.select(data.columns.map(col) :+
          col(cfg.featureCol).cast("array<float>").as(kv): _*)
    }
    val vecIdx =
      if (input.columns.length > nData) nData else data.schema.fieldIndex(cfg.featureCol)
    val schema = data.schema
    val tieIdx = cfg.tieBreakCol.map(schema.fieldIndex).getOrElse(-1)
    val groupIdx = if (cfg.groupLimit > 0) schema.fieldIndex(cfg.groupLabelCol) else -1
    val keyIdx =
      if (cfg.assumeUniqueKeys) Array.emptyIntArray
      else cfg.keyCols.map(schema.fieldIndex).toArray
    val joinIdx = joinCols.map(schema.fieldIndex).toArray
    val hits = hitSchema(schema, qs, cfg)
    // an unorderable tie-break type fails here, at plan build
    rowOrdering(hits, cfg, hits.fieldIndex(Search.ScoreCol))

    val bq = data.sparkSession.sparkContext.broadcast(qs)
    val scan = new Scan(cfg, Search.topK(cfg), input.schema, nData, vecIdx, tieIdx, groupIdx,
      keyIdx, joinIdx, bq)
    Bridge.internalRows(input).mapPartitions(scan.apply _)(Bridge.internalRowEncoder(hits))
  }

  /** The kernel plan for `data` against the collected `qs`: [[scan]],
    * then the [[Merge]]. Lazy: no job runs here. */
  def plan(data: DataFrame, qs: Queries, cfg: SearchConfig,
      joinCols: Seq[String]): DataFrame = {
    val k = Search.topK(cfg)
    val gL = cfg.groupLimit
    val hits = scan(data, qs, cfg, joinCols)
    val merged =
      if (qs.single && gL == 0 && cfg.assumeUniqueKeys) hits.toDF()
      else {
        val hitSchema = KnnKernel.hitSchema(data.schema, qs, cfg)
        // the task closure below captures this flag, not the query set
        val single = qs.single
        // a batch merges per query; a single query's survivors (k rows
        // per partition, or groupLimit per group per partition) fold in
        // one task, as TakeOrderedAndProject folds its k rows per partition
        val shuffled =
          if (qs.single) hits.repartition(1) else hits.repartition(col(Search.QueryIdCol))
        Bridge.internalRows(shuffled.toDF()).mapPartitions { rows =>
          val m = new Merge(cfg, hitSchema, single)
          m.add(rows)
          m.result
        }(Bridge.internalRowEncoder(mergedSchema(hitSchema, cfg, single))).toDF()
      }
    if (qs.single) merged.orderBy(Search.orderCols(cfg, col(Search.ScoreCol)): _*).limit(k)
    else merged
  }
}
