package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextAnalysis

/** GENERIC order-N Stupid-Backoff LM — the "higher orders repeat the
  * same move" claim of [[LanguageModel.TrigramLM]] made executable:
  * CCNet's production filter is a 5-gram KenLM, and this trains/scores
  * any order up to [[MaxOrder]] with the exact contracts of the
  * concrete bigram/trigram implementations (which remain the tuned
  * paths and the differential references — NgramLmSpec asserts
  * order-2/order-3 equality model-for-model and score-for-score).
  *
  * Scale shape per order n: ONE more slide→explode→hash-agg over the
  * shared tokenized scan (shuffle = distinct n-gram types, min-counted
  * and rank-capped → the model stays bounded by contract); scoring adds
  * one broadcast gram join and one broadcast context join per order —
  * 2(N−1) + N model joins total, all against driver-bounded tables, so
  * the plan stays broadcast-only and embarrassingly parallel at any
  * corpus size.
  *
  * Backoff chain (Brants et al. 2007, order N): a position with k
  * context words scores `ln(c(g_j)/c(ctx_j))` at the DEEPEST order
  * j ≤ k+1 whose gram AND context survive the caps, multiplied by
  * `α^(k+1−j)`; the terminal fallback is `α^k · c(w)/N'`. Every branch
  * is the same two-op `ln(ratio)` tree as the concrete paths, so the
  * `lm_5gram_*` oracles replay it term-by-term (the SQL is GENERATED
  * from the same order parameter — one spelling, two engines).
  *
  * Maintenance/persistence follow the per-table rules
  * [[LanguageModel.lmUpdateTrigram]]/`lmSaveTrigram` establish, applied
  * generically: [[update]] folds a batch under the FIXED vocabulary with
  * existing-type increments cap-exempt and new types rank-capped per
  * table; [[save]]/[[load]] round-trip the whole model through one
  * exact-integer sidecar. */
object NgramLm {

  /** Joins grow linearly with order and real filters stop at 5-grams —
    * a loud ceiling, not a silent truncation. */
  val MaxOrder: Int = 6

  /** A trained order-N model. `tables(k)` is the (k+2)-gram table —
    * rows (words, count) with words.length == k+2 — bounded by the rank
    * cap like every model artifact here. The unigram row set carries the
    * [[LanguageModel.BigramLM]] invariants (capped vocab + add-one unk
    * row). */
  final case class NgramModel(
      unigrams: Seq[(String, Long)],
      tables: Seq[Seq[(Vector[String], Long)]],
      totalTokens: Long, unkCount: Long,
      vocabCap: Int, minCount: Int, order: Int) {

    require(tables.length == order - 1,
      s"order $order needs ${order - 1} gram tables, got ${tables.length}")

    def unigramDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      unigrams.toDF("term", "cnt")
    }

    /** The n-gram table as a DataFrame `(w1..wn, cnt)`. */
    def tableDf(spark: SparkSession, n: Int): DataFrame = {
      require(n >= 2 && n <= order, s"no $n-gram table in an order-$order model")
      val schema = StructType(
        (1 to n).map(i => StructField(s"w$i", StringType, nullable = false)) :+
          StructField("cnt", LongType, nullable = false))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          tables(n - 2).map { case (ws, c) => Row.fromSeq(ws :+ c) }, 1),
        schema)
    }
  }

  /** Adjacent n-tuples of a token array as `array<struct<w1..wn>>`. */
  private def slideArray(tk: Column, n: Int): Column =
    when(size(tk) < n, array().cast(
        s"array<struct<${(1 to n).map(i => s"w$i:string").mkString(",")}>>"))
      .otherwise(transform(sequence(lit(1), size(tk) - (n - 1)),
        i => struct((0 until n).map(d =>
          element_at(tk, i + d).as(s"w${d + 1}")): _*)))

  /** n-gram counts over the tokenized scan under a FIXED vocabulary
    * (OOV → unk per slot) — the [[LanguageModel]] trigramAgg generalized. */
  private def gramAgg(tk: DataFrame, vocabDf: DataFrame, n: Int): DataFrame = {
    val mapSide = (c: String) =>
      when(col(s"__v_$c").isNotNull, col(c)).otherwise(lit(LanguageModel.Unk))
        .as(s"m_$c")
    val exploded = tk.select(explode(slideArray(col("__tk"), n)).as("p"))
      .select((1 to n).map(i => col(s"p.w$i").as(s"w$i")): _*)
    val joined = (1 to n).foldLeft(exploded) { (df, i) =>
      df.join(broadcast(vocabDf.select(col("term").as(s"w$i"),
        lit(1).as(s"__v_w$i"))), Seq(s"w$i"), "left")
    }
    joined.select((1 to n).map(i => mapSide(s"w$i")): _*)
      .groupBy((1 to n).map(i => col(s"m_w$i")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Train an order-N model: the shared bigram core (vocab + unigram +
    * bigram tables) plus one slide→explode→hash-agg per higher order,
    * each min-counted and rank-capped under the (cnt desc, w1..wn) total
    * order. One `minCount`/`tableCap` applies to every order — the
    * concrete paths keep their per-order knobs. */
  def train(docs: DataFrame, textCol: String, order: Int, vocabCap: Int,
      minCount: Int = 1, tableCap: Int = 1000000): NgramModel = {
    require(order >= 2 && order <= MaxOrder,
      s"order must be in [2, $MaxOrder], got $order")
    val spark = docs.sparkSession
    val (base, vocab, tk) =
      LanguageModel.trainCore(docs, textCol, vocabCap, minCount, tableCap)
    val vocabDf = { import spark.implicits._; vocab.toSeq.sorted.toDF("term") }
    val tables = (2 to order).map { n =>
      if (n == 2) base.bigrams.map { case (a, b, c) => (Vector(a, b), c) }
      else gramAgg(tk, vocabDf, n)
        .where(col("cnt") >= minCount)
        .orderBy(desc("cnt") +: (1 to n).map(i => asc(s"m_w$i")): _*)
        .limit(tableCap)
        .collect()
        .map(r => ((0 until n).map(r.getString).toVector, r.getLong(n)))
        .toSeq
    }
    NgramModel(base.unigrams, tables, base.totalTokens, base.unkCount,
      vocabCap, minCount, order)
  }

  /** Reserved columns of the order-N scoring plan (lower-cased compare —
    * the [[LanguageModel.ScoringReserved]] convention). Slot names are
    * order-dependent; this covers up to [[MaxOrder]]. */
  val ScoringReserved: Set[String] =
    Set("pos", "wc", "mc", "cuc", "cup", "__cc", "__tk", "arr",
      "n_tok", "logprob", "avg_logprob") ++
      (1 until MaxOrder).flatMap(k => Seq(s"wp$k", s"mp$k", s"__cp$k")) ++
      (2 to MaxOrder).map(n => s"__g$n") ++
      (3 to MaxOrder).map(n => s"__ctx$n")

  /** `α^p · x` spelled as the literal chain `α · α · … · x` — constant
    * folding collapses the α product to one double equal to the SQL
    * oracle's left-associated runtime product, bit for bit. */
  private def withAlpha(p: Int, x: Column): Column =
    if (p == 0) x
    else (1 to p).map(_ => lit(LanguageModel.Alpha)).reduce(_ * _) * x

  /** Score documents under the order-N backoff chain. Output schema is
    * the [[LanguageModel.scoreDocs]] contract: (idCol, passthrough…,
    * n_tok, logprob, avg_logprob), position-ordered fold. */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      m: NgramModel, passthrough: Seq[String] = Nil): DataFrame = {
    val clash = (idCol +: passthrough)
      .filter(n => ScoringReserved.contains(n.toLowerCase))
    require(clash.isEmpty,
      s"NgramLm.scoreDocs reserves the generic scoring columns — " +
        s"rename ${clash.mkString(", ")} before scoring")
    val order = m.order
    val spark = docs.sparkSession
    val uni = m.unigramDf(spark)
    val nD = lit(m.totalTokens).cast("double")
    val keep = passthrough.map(col)

    val tk = docs.select(col(idCol) +: keep :+
      TextAnalysis.tokens(col(textCol)).as("__tk"): _*)
    val posArr = when(size(col("__tk")) === 0,
        array().cast("array<struct<" +
          (Seq("pos:int") ++ (1 until order).map(k => s"wp$k:string") :+
            "wc:string").mkString(",") + ">>"))
      .otherwise(transform(sequence(lit(1), size(col("__tk"))), i =>
        struct(i.as("pos") +:
          (1 until order).map(k =>
            when(i <= k, lit(null).cast("string"))
              .otherwise(element_at(col("__tk"), i - k)).as(s"wp$k")) :+
          element_at(col("__tk"), i).as("wc"): _*)))
    val pos = tk.select(col(idCol) +: keep :+ explode_outer(posArr).as("p"): _*)
      .select((col(idCol) +: keep :+ col("p.pos").as("pos") :+
        col("p.wc").as("wc")) ++
        (1 until order).map(k => col(s"p.wp$k").as(s"wp$k")): _*)

    // unigram joins: current word + each context slot
    val uniJoined = (1 until order).foldLeft(
      pos.join(broadcast(uni.select(col("term").as("wc"),
        col("cnt").as("__cc"))), Seq("wc"), "left")) { (df, k) =>
      df.join(broadcast(uni.select(col("term").as(s"wp$k"),
        col("cnt").as(s"__cp$k"))), Seq(s"wp$k"), "left")
    }
    val mapped = (1 until order).foldLeft(
      uniJoined.withColumn("mc",
          when(col("__cc").isNull, lit(LanguageModel.Unk)).otherwise(col("wc")))
        .withColumn("cuc", coalesce(col("__cc"), lit(m.unkCount)).cast("double"))) {
      (df, k) =>
        df.withColumn(s"mp$k",
          when(col(s"wp$k").isNull, lit(null).cast("string"))
            .when(col(s"__cp$k").isNull, lit(LanguageModel.Unk))
            .otherwise(col(s"wp$k")))
    }.withColumn("cup", when(col("wp1").isNull, lit(null).cast("double"))
      .otherwise(coalesce(col("__cp1"), lit(m.unkCount)).cast("double")))

    // gram joins (order n: keys mp_{n-1}..mp_1, mc) and context joins
    // (order n ≥ 3: the (n-1)-gram of the context, keys mp_{n-1}..mp_1)
    val gramJoined = (2 to order).foldLeft(mapped) { (df, n) =>
      val t = m.tableDf(spark, n)
      val renamed = t.select(
        (1 until n).map(i => col(s"w$i").as(s"mp${n - i}")) :+
          col(s"w$n").as("mc") :+ col("cnt").as(s"__g$n"): _*)
      df.join(broadcast(renamed),
        (1 until n).map(i => s"mp${n - i}") :+ "mc", "left")
    }
    val ctxJoined = (3 to order).foldLeft(gramJoined) { (df, n) =>
      val t = m.tableDf(spark, n - 1)
      val renamed = t.select(
        (1 until n).map(i => col(s"w$i").as(s"mp${n - i}")) :+
          col("cnt").as(s"__ctx$n"): _*)
      df.join(broadcast(renamed), (1 until n).map(i => s"mp${n - i}"), "left")
    }

    // backoff value when the deepest AVAILABLE context is K words of
    // history (i.e. an at-most-(K+1)-gram can apply)
    def chainValue(maxN: Int): Column = {
      val fallback = log(withAlpha(maxN - 1, col("cuc") / nD))
      // deepest order first; foldRight keeps the j-descending WHEN order
      (maxN to 2 by -1).map { j =>
        val hit =
          if (j >= 3) col(s"__g$j").isNotNull && col(s"__ctx$j").isNotNull
          else col("__g2").isNotNull
        val v = log(withAlpha(maxN - j,
          col(s"__g$j").cast("double") /
            (if (j >= 3) col(s"__ctx$j").cast("double") else col("cup"))))
        (hit, v)
      }.foldRight(fallback) { case ((hit, v), acc) => when(hit, v).otherwise(acc) }
    }

    val lp = (1 until order).map { k =>
      (col(s"mp$k").isNull, if (k == 1) log(col("cuc") / nD) else chainValue(k))
    }.foldRight(chainValue(order)) { case ((cond, v), acc) =>
      when(cond, v).otherwise(acc)
    }

    ctxJoined.select(col(idCol) +: keep :+ col("pos") :+ lp.as("lp"): _*)
      .groupBy(col(idCol) +: keep: _*)
      .agg(sort_array(collect_list(
        when(col("pos").isNotNull, struct(col("pos"), col("lp"))))).as("arr"))
      .select(col(idCol) +: keep :+ size(col("arr")).as("n_tok") :+
        aggregate(transform(col("arr"), x => x.getField("lp")),
          lit(0d), (a, x) => a + x).as("logprob"): _*)
      .select(col(idCol) +: keep :+ col("n_tok") :+ col("logprob") :+
        when(col("n_tok") > 0, col("logprob") / col("n_tok"))
          .otherwise(lit(0d)).as("avg_logprob"): _*)
  }

  /** Fixed-vocabulary incremental maintenance, the per-table rule
    * applied to EVERY order: batch tokens map through the existing vocab
    * (OOV → unk), unigram/total/unk counts add exactly, and per n-gram
    * table the increments for types ALREADY IN the model always survive
    * (their fetch is bounded by the model itself) while NEW batch types
    * enter when the batch alone reaches `minCount`, rank-capped at
    * `tableCap`; the merged tables re-cap under the training total
    * order. Retraining remains the compaction analog. */
  def update(m: NgramModel, docs: DataFrame, textCol: String,
      tableCap: Int = 1000000): NgramModel = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabDf = m.unigrams.map(_._1).toDF("term")
    val tokens = docs.select(TextAnalysis.tokens(col(textCol)).as("__tk"))
    // one batch scan feeds order-many aggregates
    Materialize.scoped(tokens, "NgramLm.update.tokens") { tk =>
      // unigram side — the lmUpdate spelling: map through the fixed vocab,
      // track the TRUE-OOV share separately (a literal unk token must not
      // grow unkCount)
      val uniAgg = tk.select(explode(col("__tk")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .join(broadcast(vocabDf.withColumn("__v", lit(1))), Seq("term"), "left")
        .select(when(col("__v").isNotNull, col("term"))
            .otherwise(lit(LanguageModel.Unk)).as("t"),
          col("cnt"),
          when(col("__v").isNull, col("cnt")).otherwise(lit(0L)).as("__oov"))
        .groupBy("t").agg(sum(col("cnt")).as("cnt"), sum(col("__oov")).as("oov"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val uniRows = uniAgg.map { case (t, (c, _)) => t -> c }
      val oovTotal = uniAgg.get(LanguageModel.Unk).map(_._2).getOrElse(0L)
      val batchTotal = uniRows.values.sum
      val uni2 = m.unigrams.map { case (t, c) =>
        t -> (c + uniRows.getOrElse(t, 0L)) }

      val tables2 = (2 to m.order).map { n =>
        val old = m.tables(n - 2).toMap
        val keyCols = (1 to n).map(i => s"m_w$i")
        val modelKeys = spark.createDataFrame(
          spark.sparkContext.parallelize(
            old.keysIterator.map(ws => Row.fromSeq(ws)).toSeq, 1),
          StructType(keyCols.map(c => StructField(c, StringType, nullable = false))))
        def fetch(df: DataFrame) = df.collect()
          .map(r => ((0 until n).map(r.getString).toVector, r.getLong(n))).toMap
        val batch = Materialize.scoped(gramAgg(tk, vocabDf, n),
            "NgramLm.update.batchAgg") { batchAgg =>
          fetch(batchAgg.join(broadcast(modelKeys), keyCols, "left_semi")) ++
            fetch(batchAgg
              .join(broadcast(modelKeys), keyCols, "left_anti")
              .orderBy(desc("cnt") +: keyCols.map(asc): _*)
              .limit(tableCap))
        }
        val merged = (old.keySet ++ batch.keySet).toSeq.flatMap { k =>
          val c = old.getOrElse(k, 0L) + batch.getOrElse(k, 0L)
          val keepIt = old.contains(k) || batch.getOrElse(k, 0L) >= m.minCount
          if (keepIt) Some(k -> c) else None
        }
        // tuple-wise word order (the SQL `ORDER BY cnt DESC, w1..wn` total
        // order) — a joined-string compare could misorder keys whose
        // tokens contain sub-separator code points
        val vecOrd: Ordering[Vector[String]] =
          scala.math.Ordering.Implicits.seqOrdering
        merged.sortBy { case (ws, c) => (-c, ws) }(
            Ordering.Tuple2(Ordering.Long, vecOrd))
          .take(tableCap)
          .sortBy(_._1)(vecOrd)
      }
      NgramModel(uni2.sortBy(_._1), tables2, m.totalTokens + batchTotal,
        m.unkCount + oovTotal, m.vocabCap, m.minCount, m.order)
    }
  }

  /** Persist a model as one atomically-swapped exact-integer sidecar
    * (the [[LanguageModel.lmSaveTrigram]] protocol, any order). */
  def save(spark: SparkSession, dir: String, m: NgramModel): Unit = {
    val header =
      s"${m.order}\t${m.vocabCap}\t${m.minCount}\t${m.totalTokens}\t${m.unkCount}"
    val lines = header +:
      (m.unigrams.map { case (t, c) => s"u\t$t\t$c" } ++
        (2 to m.order).flatMap(n => m.tables(n - 2).map { case (ws, c) =>
          (s"g$n" +: ws :+ c.toString).mkString("\t")
        }))
    graft.model.VersionedDir.writeSidecar(spark, dir, "ngram_lm.tsv", lines)
  }

  /** Load a persisted model ([[save]]). */
  def load(spark: SparkSession, dir: String): NgramModel = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, "ngram_lm.tsv")
    val h = lines.head.split("\t")
    val order = h(0).toInt
    val uni = Seq.newBuilder[(String, Long)]
    val tabs = Array.fill(order - 1)(Seq.newBuilder[(Vector[String], Long)])
    lines.tail.foreach { ln =>
      val p = ln.split("\t")
      p(0) match {
        case "u" => uni += ((p(1), p(2).toLong))
        case g if g.startsWith("g") =>
          val n = g.drop(1).toInt
          tabs(n - 2) += ((p.slice(1, 1 + n).toVector, p(1 + n).toLong))
        case other => throw new IllegalArgumentException(
          s"corrupt ngram_lm.tsv line tag '$other' in $dir")
      }
    }
    NgramModel(uni.result(), tabs.map(_.result()).toSeq, h(3).toLong,
      h(4).toLong, h(1).toInt, h(2).toInt, order)
  }
}
