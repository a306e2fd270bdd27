package graft.operators

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.functions.{ScoreFunctions, ScoreKind, VectorMath}

/** The per-partition kNN kernel behind [[Search.search]] and
  * [[Search.multiSearch]] (and so behind every ANN batch path, the
  * shortlist reranks and `Ann.multiRoute`), plus the bounded pools it
  * shares with [[BudgetedSearch]].
  *
  * Plan: the JSON filter stays a Catalyst `Filter` over the data scan;
  * a `Dataset.mapPartitions` over the filtered rows (stage 1, [[Scan]])
  * scores each row against the whole collected query set with
  * [[VectorMath]]'s formulas — the `array<float>` cast on both sides,
  * context re-scoring with Spark's `least`/`greatest` semantics (nulls
  * skipped, NaN above every number, the first of equals kept), and the
  * null/NaN drop — and folds every (query, row) pair into bounded pools:
  * one per query, or one per (query, group) when `groupLimit > 0`, each
  * keeping the best row per dedup key unless `assumeUniqueKeys`. Only the
  * pool survivors leave the task. A second `mapPartitions` after one
  * shuffle ([[Merge]]) folds them into the same pools again and does the
  * group-score and top-k step; a batch shuffles on `query_id`, a single
  * query to one partition, and ends in `orderBy.limit`. A single ungrouped query with unique keys needs no
  * merge: `orderBy.limit` alone is its `TakeOrderedAndProject` merge.
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
  * config outside that (dedup keys missing the group column) keeps the
  * relational plan, selected in [[Search]]. */
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

  /** Total "better first" row ordering: score in the config's direction,
    * then the tie-break column in its NATIVE ordering (never stringly).
    * Rows that hold internal values pass `internal`: the tie-break is
    * then converted before it is compared. */
  def rowOrdering(schema: StructType, cfg: SearchConfig,
      scoreIdx: Int, internal: Boolean = false): Ordering[Row] = {
    val sign = if (cfg.higherIsBetter) -1 else 1
    val tie = cfg.tieBreakCol.map { c =>
      val i = schema.fieldIndex(c)
      val conv: Any => Any = if (internal) toScala(schema(i).dataType) else identity
      (i, nativeOrd(schema(i).dataType), conv)
    }
    new Ordering[Row] with Serializable {
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

  // ------------------------------------------------------------ pools

  /** Bounded best-k pool over any element type (the kernel's stage 1
    * folds [[Hit]]s, its merge and the budgeted driver fold external
    * [[Row]]s, the budgeted task pools fold `Cand` wrappers over the
    * codegen'd InternalRow output). `keyOf` null: a plain worst-first
    * bounded heap (O(log k) per accepted row, O(1) reject against the
    * heap max). `keyOf` non-null: exact best-per-key dedup inside the k
    * slots (≤ k tracked keys — correct because once a key is evicted the
    * pool's worst entry only ever improves, so the evicted key's best
    * can never re-enter the top-k without a strictly better row, which
    * re-inserts it); a full pool rejects anything no better than its
    * cached worst before computing the key, and an accepted
    * insert/eviction pays an O(k) rescan. `retain` runs exactly once per
    * element, immediately BEFORE it is first stored — the task side uses
    * it to copy the iterator-reused InternalRow buffer only for rows
    * that actually enter a pool. Pool emptiness is tracked SEPARATELY
    * from `worstKey` (`hasWorst`): a legitimate NULL dedup-key value
    * must never read as "no worst yet", or a new key would displace the
    * cached worst unconditionally and the exactness invariant above
    * would silently break on nullable keyCols. */
  final class Pool[E](k: Int, ord: Ordering[E], keyOf: E => Any,
      retain: E => Unit) {
    // PriorityQueue dequeues the ord-LARGEST element = the worst
    // ("smaller is better" ordering), so overflow drops the worst
    private val heap =
      if (keyOf == null) mutable.PriorityQueue.empty[E](ord) else null
    private val best =
      if (keyOf == null) null else mutable.HashMap.empty[Any, E]
    private var worstKey: Any = null
    private var worst: E = null.asInstanceOf[E]
    private var hasWorst = false
    private def rescanWorst(): Unit = {
      var wk: Any = null; var wr: E = null.asInstanceOf[E]
      var found = false
      best.foreach { case (key, e) =>
        if (!found || ord.compare(e, wr) > 0) { wk = key; wr = e; found = true }
      }
      worstKey = wk
      worst = wr
      hasWorst = found
    }
    def add(e: E): Unit = {
      if (k <= 0) return // limit 0 == the deterministic path's empty limit(0)
      if (heap != null) {
        // reject BEFORE retaining: a row no better than the full heap's
        // worst must not pay the admission copy
        if (heap.size >= k && ord.compare(e, heap.head) >= 0) return
        retain(e)
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
            retain(e)
            best(key) = e
            if (hasWorst && key == worstKey) rescanWorst()
          }
        case None =>
          retain(e)
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
    def rows: Iterator[E] =
      if (heap != null) heap.iterator else best.valuesIterator
  }

  /** One bounded pool per query (ungrouped) or per (query, group)
    * (grouped). The SAME shape serves as the kernel's per-task pools (over
    * [[Hit]]), as its merge and as the budgeted driver's incremental
    * state (over [[Row]]), and as the budgeted task reducer: folding
    * pools through a fresh PoolState is exact by the associativity of
    * best-per-key-then-top-k (ungrouped) / per-group
    * best-per-key-then-top-groupLimit when keys cannot span groups
    * (grouped). */
  final class PoolState[E](k: Int, gL: Int, ord: Ordering[E],
      keyOf: E => Any, qKeyOf: E => Any, gKeyOf: E => Any,
      retain: E => Unit) {
    private val pools = mutable.HashMap.empty[Any, Pool[E]]
    def add(e: E): Unit = {
      val pk = if (gL > 0) (qKeyOf(e), gKeyOf(e)) else qKeyOf(e)
      pools.getOrElseUpdate(pk,
        new Pool[E](if (gL > 0) gL else k, ord, keyOf, retain)).add(e)
    }
    def rowCount: Long = pools.valuesIterator.map(_.size.toLong).sum
    def elements: Iterator[E] = pools.valuesIterator.flatMap(_.rows)
    /** (pool key, pool) pairs — ungrouped key is the query id, grouped
      * key is (query id, normalized group value). */
    def entries: Iterator[(Any, Pool[E])] = pools.iterator
  }

  // ------------------------------------------------------------ finalize

  /** A state's pools as (pool key, rows) pairs, for the finalizers. */
  def poolRows(state: PoolState[Row]): Iterator[(Any, Seq[Row])] =
    state.entries.map { case (pk, pool) => pk -> pool.rows.toSeq }

  /** Ungrouped finalize: each pool already holds the deduped best ≤ k
    * rows; sort each by the config's order + native tie-break and
    * truncate to k — best-first within each query. */
  def topRows(pools: Iterator[(Any, Seq[Row])], k: Int, ord: Ordering[Row]): Iterator[Row] =
    pools.flatMap { case (_, rows) => rows.sorted(ord).take(k) }

  /** The grouped output schema over a scored schema: query id (if any),
    * group, group score, then the representative's other columns. */
  def groupedSchema(schema: StructType, qIdx: Int, groupIdx: Int,
      scoreIdx: Int): StructType =
    StructType(
      (if (qIdx >= 0) Seq(schema(qIdx)) else Nil) ++
        Seq(schema(groupIdx), StructField(Search.ScoreCol, DoubleType, nullable = true)) ++
        schema.fields.indices.filter(i => i != qIdx && i != groupIdx && i != scoreIdx)
          .map(schema.fields))

  /** Grouped finalize (A3+A4): each (query, group) pool holds the deduped
    * top-`groupLimit` members; the group score is their sum
    * (higherIsBetter) or sum/len², folded BEST-FIRST, the representative
    * is the best member, and each query keeps its top-k group rows by
    * the same order + the representative's tie-break, best-first. Rows
    * follow [[groupedSchema]]. */
  def groupRows(pools: Iterator[(Any, Seq[Row])], schema: StructType, cfg: SearchConfig,
      k: Int, qIdx: Int, scoreIdx: Int, ord: Ordering[Row],
      groupIdx: Int, internal: Boolean = false): Iterator[Row] = {
    val payloadIdx = schema.fields.indices.filter { i =>
      i != qIdx && i != groupIdx && i != scoreIdx
    }
    val sign = if (cfg.higherIsBetter) -1 else 1
    val tie = cfg.tieBreakCol.map { c =>
      val conv: Any => Any = if (internal) toScala(schema(c).dataType) else identity
      (schema.fieldIndex(c), nativeOrd(schema(c).dataType), conv)
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
  }

  /** One scored (query row, data row) pair. */
  private final class Hit(val score: Double, val qi: Int, val src: Src)

  /** A collected query or context vector as [[VectorMath]] reads it:
    * the row encoder hands `array<float>` over as a Seq of boxed floats,
    * nulls included. */
  private def arrayData(v: Any): ArrayData = v match {
    case null => null
    case s: scala.collection.Seq[_] =>
      if (s.contains(null)) new GenericArrayData(s.toArray[Any])
      else UnsafeArrayData.fromPrimitiveArray(s.iterator.map(_.asInstanceOf[Float]).toArray)
  }

  /** A [[VectorMath]] formula behind a primitive-returning call (a
    * `Function2` over `ArrayData` would box every pair's score). */
  private abstract class Scorer extends Serializable {
    def apply(a: ArrayData, b: ArrayData): Double
  }

  private def scorer(kind: ScoreKind): Scorer = kind match {
    case ScoreKind.L2 => new Scorer { def apply(a: ArrayData, b: ArrayData) = VectorMath.l2(a, b) }
    case ScoreKind.L1 => new Scorer { def apply(a: ArrayData, b: ArrayData) = VectorMath.l1(a, b) }
    case ScoreKind.Dot => new Scorer { def apply(a: ArrayData, b: ArrayData) = VectorMath.dot(a, b) }
    case ScoreKind.Cosine =>
      new Scorer { def apply(a: ArrayData, b: ArrayData) = VectorMath.cosine(a, b) }
    case ScoreKind.Angular =>
      new Scorer { def apply(a: ArrayData, b: ArrayData) = VectorMath.angular(a, b) }
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

  /** The pools one task folds [[Hit]]s into — the scan's and the merge's —
    * with `Search`'s order (score, then the native tie-break), the dedup
    * key computed from the pair's row on first demand (no key columns:
    * one key for every row, as `groupBy()` has), and the row's first
    * `nKept` internal values copied once a pair of it is stored. Dedup
    * and group keys are copies of internal values, which compare by
    * value (`UTF8String`, `UnsafeArrayData` by their bytes). */
  private def hitPools(cfg: SearchConfig, k: Int, tieType: DataType, keyIdx: Array[Int],
      nKept: Int, qKeyOf: Hit => Any): PoolState[Hit] = {
    val sign = if (cfg.higherIsBetter) -1 else 1
    val tieOrd = if (tieType != null) nativeOrd(tieType) else null
    val ord = new Ordering[Hit] {
      def compare(a: Hit, b: Hit): Int = {
        val s = sign * java.lang.Double.compare(a.score, b.score)
        if (s != 0 || tieOrd == null) s else tieOrd.compare(a.src.tie, b.src.tie)
      }
    }
    val keyOf: Hit => Any =
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
    new PoolState[Hit](k, cfg.groupLimit, ord, keyOf, qKeyOf, h => h.src.group,
      h => {
        val s = h.src
        if (s.kept == null) s.kept = Array.tabulate(nKept)(i => InternalRow.copyValue(s.row.get(i)))
      })
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
    * ([[Bridge.internalRowEncoder]]): the vector is read as the scan's own
    * `ArrayData`, and only the values the pools keep are copied. */
  private final class Scan(cfg: SearchConfig, k: Int, schema: StructType, nData: Int,
      vecIdx: Int, tieIdx: Int, groupIdx: Int, keyIdx: Array[Int],
      joinIdx: Array[Int], queries: Broadcast[Queries]) extends Serializable {

    def apply(rows: Iterator[Row]): Iterator[Row] = {
      val qs = queries.value
      val nq = qs.rows.length
      val qVecs = qs.rows.map(r => arrayData(r.get(1)))
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
      val score = scorer(ScoreFunctions.resolve(cfg.scoreFuncName))
      val hib = cfg.higherIsBetter
      val ctx = cfg.context.vectors.map(arrayData).toArray
      val prioritize = cfg.context.prioritize && ctx.nonEmpty
      val st = hitPools(cfg, k, if (tieIdx >= 0) schema(tieIdx).dataType else null,
        keyIdx, nData, h => qKeys(h.qi))

      while (rows.hasNext) {
        val r = rows.next()
        val qi = targets(r)
        // a null vector scores null against every query and context
        if (qi.nonEmpty && !r.isNullAt(vecIdx)) {
          val a = r.get(vecIdx).asInstanceOf[ArrayData]
          // least/greatest over (own, ctx…) folds left keeping the first
          // of equals, so the context's best can be folded once per row
          var hasCtx = false
          var ctxBest = 0d
          var c = 0
          while (c < ctx.length) {
            val s = score(a, ctx(c))
            if (!hasCtx || beats(hib, s, ctxBest)) { ctxBest = s; hasCtx = true }
            c += 1
          }
          var src: Src = null
          var j = 0
          while (j < qi.length) {
            val q = qi(j)
            val qv = qVecs(q)
            var defined = true
            val s =
              if (prioritize) ctxBest
              else if (qv == null) { defined = hasCtx; ctxBest }
              else {
                val own = score(a, qv)
                if (hasCtx && beats(hib, ctxBest, own)) ctxBest else own
              }
            if (defined && !s.isNaN) {
              if (src == null) src = KnnKernel.src(r, tie, tieIdx, groupIdx, null)
              st.add(new Hit(s, q, src))
            }
            j += 1
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

  /** Stage 2: fold the survivors of every partition into the same pools,
    * then the group-score and top-k step. Rows in and out hold internal
    * values, as in [[Scan]]. `qIdx`: the query id's field, or -1 for a single
    * query (whose data may carry a `query_id`). */
  private final class Merge(cfg: SearchConfig, k: Int, schema: StructType, qIdx: Int)
      extends Serializable {
    def apply(rows: Iterator[Row]): Iterator[Row] = {
      val scoreIdx = schema.fieldIndex(Search.ScoreCol)
      val gL = cfg.groupLimit
      val groupIdx = if (gL > 0) schema.fieldIndex(cfg.groupLabelCol) else -1
      val tieIdx = cfg.tieBreakCol.map(schema.fieldIndex).getOrElse(-1)
      val tie = if (tieIdx >= 0) toScala(schema(tieIdx).dataType) else null
      val st = hitPools(cfg, k, if (tieIdx >= 0) schema(tieIdx).dataType else null,
        if (cfg.assumeUniqueKeys) Array.emptyIntArray
        else cfg.keyCols.map(schema.fieldIndex).toArray,
        schema.length, h => h.src.q)
      while (rows.hasNext) {
        val r = rows.next()
        val q = if (qIdx >= 0) InternalRow.copyValue(r.get(qIdx)) else ()
        st.add(new Hit(r.getDouble(scoreIdx), -1, src(r, tie, tieIdx, groupIdx, q)))
      }
      val ord = rowOrdering(schema, cfg, scoreIdx, internal = true)
      val pools = st.entries.map { case (pk, pool) =>
        pk -> pool.rows.map(h => Row.fromSeq(ArraySeq.unsafeWrapArray(h.src.kept))).toSeq
      }
      if (gL == 0) topRows(pools, k, ord)
      else groupRows(pools, schema, cfg, k, qIdx, scoreIdx, ord, groupIdx, internal = true)
    }
  }

  /** The kernel plan for `data` against the collected `qs`. Lazy: no job
    * runs here. `data` has already passed the reserved-column check. */
  def plan(data: DataFrame, qs: Queries, cfg: SearchConfig,
      joinCols: Seq[String]): DataFrame = {
    val spark = data.sparkSession
    val k = Search.topK(cfg)
    val gL = cfg.groupLimit
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
    val groupIdx = if (gL > 0) schema.fieldIndex(cfg.groupLabelCol) else -1
    val keyIdx =
      if (cfg.assumeUniqueKeys) Array.emptyIntArray
      else cfg.keyCols.map(schema.fieldIndex).toArray
    val joinIdx = joinCols.map(schema.fieldIndex).toArray

    val qField = qs.schema.map(_(Search.QueryIdCol)).toSeq
    // the schema the relational plan declares: its dedup (`min_by`'s
    // struct) and group (the representative) aggregates make every column
    // but the query id and the grouping key nullable, and the score is
    // nullable throughout
    val dedup = !cfg.assumeUniqueKeys
    val dataFields = schema.fields.map { f =>
      if ((dedup || gL > 0) && !(gL > 0 && !dedup && f.name == cfg.groupLabelCol))
        f.copy(nullable = true)
      else f
    }
    val hitSchema = StructType(qField ++ dataFields :+
      StructField(Search.ScoreCol, DoubleType, nullable = true))
    // an unorderable tie-break type fails here, at plan build
    rowOrdering(hitSchema, cfg, hitSchema.fieldIndex(Search.ScoreCol))

    val bq = spark.sparkContext.broadcast(qs)
    val scan = new Scan(cfg, k, input.schema, nData, vecIdx, tieIdx, groupIdx, keyIdx, joinIdx, bq)
    val hits = Bridge.internalRows(input).mapPartitions(scan.apply _)(
      Bridge.internalRowEncoder(hitSchema))

    val merged =
      if (qs.single && gL == 0 && cfg.assumeUniqueKeys) hits.toDF()
      else {
        val qIdx = if (qs.single) -1 else 0
        val outSchema =
          if (gL == 0) hitSchema
          else groupedSchema(hitSchema, qIdx,
            hitSchema.fieldIndex(cfg.groupLabelCol), hitSchema.fieldIndex(Search.ScoreCol))
        // a batch merges per query; a single query's survivors (k rows
        // per partition, or groupLimit per group per partition) fold in
        // one task, as TakeOrderedAndProject folds its k rows per partition
        val shuffled =
          if (qs.single) hits.repartition(1) else hits.repartition(col(Search.QueryIdCol))
        Bridge.internalRows(shuffled.toDF()).mapPartitions(
          new Merge(cfg, k, hitSchema, qIdx).apply _)(Bridge.internalRowEncoder(outSchema)).toDF()
      }
    if (qs.single) merged.orderBy(Search.orderCols(cfg, col(Search.ScoreCol)): _*).limit(k)
    else merged
  }
}
