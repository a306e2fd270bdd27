package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.{TextAnalysis, TextClean}
import graft.operators.{Clustering, LanguageModel, Materialize, QualityClassifier}

/** The production curation shape, composed: every micro-batch flows
  * clean → quality gates (Gopher, LM perplexity) → lexical near-dup gate
  * → semantic near-dup gate, and the SURVIVORS maintain the states the
  * next batch gates against (band-key index, cluster state) — the
  * end-to-end counterpart of the single-family writers
  * ([[StreamingDedup.dedupedAppendWriter]], `Ingest.upsertWriter`).
  *
  * Composition discipline:
  *  - per-document stages (clean, Gopher, LM score) are MAP-SIDE column
  *    pipelines fused into one pass over the batch — no action, no
  *    shuffle, before the first stateful gate sees a row;
  *  - the stateful gates run in fixed order (lexical before semantic:
  *    text dedup is the cheaper reject) and each touches state only for
  *    banded/clustered candidates, per their own contracts;
  *  - ALL per-batch models and states are read ONCE per trigger through
  *    injected readers (the persisted-artifact pattern: `lmLoad`,
  *    `clusterLoadState`, band-key tables), so a batch gates against one
  *    consistent snapshot;
  *  - stage order is admission-monotone: a row dropped by stage k is
  *    never seen by stage k+1, so per-stage reject reasons are disjoint
  *    and the admitted set is order-independent across the per-document
  *    stages.
  */
object CurationPipeline {

  /** Gate chain configuration; `None` disables a stage. */
  final case class CurationConfig(
      idCol: String = "doc_id",
      textCol: String = "text",
      featureCol: String = "embedding",
      clean: Boolean = true,
      /** Keep docs whose trained-LID prediction is in this set (scored
        * under the injected [[graft.operators.LangId.LidModel]] — the
        * CCNet order: language first, it is the cheapest semantic
        * reject and every later gate's model is per-language). Purely
        * map-side: one codegen kernel, no join, no action. */
      allowLangs: Option[Set[String]] = None,
      gopher: Option[TextAnalysis.GopherThresholds] = None,
      /** Keep docs with mean token log-probability ≥ this (scored under
        * the injected LM). */
      minAvgLogprob: Option[Double] = None,
      /** Keep docs with mean token log-odds ≥ this (scored under the
        * injected NB model — the discriminative quality gate; both
        * quality gates may run, each against its own artifact). */
      minAvgLogodds: Option[Double] = None,
      /** Keep docs with DSIR importance log-weight ≥ this (scored under
        * the injected log-ratio table — the target-distribution gate,
        * the streaming face of [[graft.operators.Dsir]]). Purely
        * map-side: one codegen kernel, no join, no action. */
      minDsirLogw: Option[Double] = None,
      lexical: Option[StreamingDedup.DedupGateConfig] = None,
      semanticThreshold: Option[Double] = None)

  /** The states one trigger reads and the survivors extend. Fields are
    * `null`-free but only consulted when the matching stage is on. */
  final case class CurationState(
      /** Trained language-ID model ([[graft.operators.LangId.lidLoad]])
        * for the `allowLangs` gate. */
      lid: Option[graft.operators.LangId.LidModel] = None,
      lm: Option[LanguageModel.BigramLM] = None,
      nb: Option[QualityClassifier.NbModel] = None,
      /** PER-LANGUAGE LM routing (r12 — the CCNet recipe the allowLangs
        * scaladoc promises): when non-empty, the perplexity gate scores
        * each document under the LM registered for its LID-predicted
        * language instead of one shared model. Requires the language
        * gate (the prediction is the routing key), a model for EVERY
        * allowed language (missing ⇒ loud refusal — a silently
        * unscored language is a mis-wired pipeline), and excludes the
        * single-model `lm` (ambiguous). Single-model configs are
        * untouched. */
      lmByLang: Map[String, LanguageModel.BigramLM] = Map.empty,
      /** Per-language NB quality models — same routing contract as
        * [[lmByLang]], for the `minAvgLogodds` gate. */
      nbByLang: Map[String, QualityClassifier.NbModel] = Map.empty,
      /** DSIR per-bucket log-ratio table ([[graft.operators.Dsir
        * .logRatios]] over persisted target/raw models). */
      dsir: Option[Array[Double]] = None,
      lexCorpus: Option[(DataFrame, DataFrame)] = None,
      cluster: Option[(DataFrame, Array[Clustering.Centroid])] = None)

  /** One micro-batch through the gate chain. Returns the admitted rows
    * (original columns, cleaned text if `clean`; plus `cluster` when the
    * semantic stage ran) and, for the stateful stages, the artifacts the
    * caller appends to state: the admitted rows' band keys and the
    * cluster-assigned rows. `rejects` (audit mode only) is the per-doc
    * rejection ledger: one `(idCol, stage, reason)` row per dropped
    * document. */
  final case class CurationResult(
      admitted: DataFrame,
      lexKeys: Option[DataFrame],
      assigned: Option[DataFrame],
      rejects: Option[DataFrame] = None)

  /** Stage labels of the rejection ledger, in gate order. Because the
    * chain is admission-monotone (a row dropped at stage k is never seen
    * by stage k+1), every rejected doc appears in the ledger EXACTLY
    * once — reasons are disjoint by construction, not by dedup. */
  val StageLang = "language"
  val StageGopher = "gopher"
  val StageLm = "lm_perplexity"
  val StageDsir = "dsir_importance"
  val StageNb = "nb_quality"
  val StageLexical = "lexical_dup"
  val StageSemantic = "semantic_dup"

  /** [[curateBatch]] with the per-document rejection ledger — the
    * observability a 100-TB curation run needs to debug gate
    * calibration (which gate is eating the corpus, and why). Each
    * stage's rejects are the stage input MINUS the stage output by id
    * (one left-anti join per enabled stage — exact complements by
    * construction, so the ledger and the admitted set partition the
    * batch; batch ids must be unique, as everywhere in this chain).
    * The ledger is lazy like everything else — audit mode adds no
    * action, only the extra anti-join per enabled stage when the
    * caller materializes `rejects`. */
  def curateBatchAudited(batch: DataFrame, cfg: CurationConfig,
      state: CurationState): CurationResult =
    curateBatch(batch, cfg, state, audit = true)

  /** Internal routing column (the LID prediction) carried through the
    * chain when per-language models are configured; scrubbed from every
    * returned frame. */
  private val LangCol = "__lang"

  def curateBatch(batch: DataFrame, cfg: CurationConfig,
      state: CurationState, audit: Boolean = false): CurationResult = {
    val id = cfg.idCol
    // ---- per-language routing contract (loud, config-time) ----
    val routed = state.lmByLang.nonEmpty || state.nbByLang.nonEmpty
    if (routed) {
      require(!batch.columns.contains(LangCol),
        s"curateBatch reserves column $LangCol for per-language routing")
      require(state.lm.isEmpty || state.lmByLang.isEmpty,
        "ambiguous CurationState: both a single LM and lmByLang — pick one")
      require(state.nb.isEmpty || state.nbByLang.isEmpty,
        "ambiguous CurationState: both a single NB model and nbByLang — pick one")
      val langs = cfg.allowLangs.getOrElse(throw new IllegalArgumentException(
        "per-language models in CurationState require the language gate " +
          "(allowLangs) — the LID prediction is the routing key"))
      if (cfg.minAvgLogprob.nonEmpty && state.lmByLang.nonEmpty) {
        val missing = langs -- state.lmByLang.keySet
        require(missing.isEmpty,
          s"per-language LM routing: no model for ${missing.toSeq.sorted.mkString(", ")} — " +
            "every allowed language needs one (a silently unscored language " +
            "is a mis-wired pipeline)")
      }
      if (cfg.minAvgLogodds.nonEmpty && state.nbByLang.nonEmpty) {
        val missing = langs -- state.nbByLang.keySet
        require(missing.isEmpty,
          s"per-language NB routing: no model for ${missing.toSeq.sorted.mkString(", ")} — " +
            "every allowed language needs one")
      }
    }
    var ledger: Option[DataFrame] = None
    def noteWith(input: DataFrame, output: DataFrame, stage: String,
        reason: Column): Unit = if (audit) {
      val r = input
        .join(output.select(col(id)), Seq(id), "left_anti")
        .select(col(id), lit(stage).as("stage"), reason.as("reason"))
      ledger = Some(ledger.fold(r)(_.unionByName(r)))
    }
    def note(input: DataFrame, output: DataFrame, stage: String,
        reason: String): Unit = noteWith(input, output, stage, lit(reason))
    // audit mode consumes every stage output TWICE (downstream chain +
    // its anti-join) — a LAZY localCheckpoint materializes each stage
    // once on first action instead of recomputing the whole upstream
    // chain per ledger row set (the bench measured 4× LM re-scoring
    // without it). The non-audit path stays action- and checkpoint-free.
    def stage(out: DataFrame): DataFrame =
      if (audit) Materialize.deferred(out, "CurationPipeline.curateBatch.auditStage") else out
    // ---- per-document map-side stages: one fused pass, no action ----
    val cleaned =
      if (cfg.clean)
        batch.withColumn(cfg.textCol, TextClean.cleanText(col(cfg.textCol)))
      else batch
    val langGated = cfg.allowLangs.fold(cleaned) { langs =>
      require(langs.nonEmpty, "allowLangs: empty language set — " +
        "a reject-everything gate is almost certainly a mis-wired stage")
      val lid = state.lid.getOrElse(throw new IllegalArgumentException(
        "allowLangs set but no LID model in CurationState — load one with LangId.lidLoad"))
      val m = graft.functions.LidKernel.model(lid)
      val pred = graft.functions.LidScoreExpr(col(cfg.textCol), m)
        .getField("lang_pred")
      // routed mode keeps the prediction as the routing column for the
      // downstream per-language gates (one kernel evaluation either way;
      // scrubbed from every returned frame)
      val kept = stage(
        if (routed)
          cleaned.withColumn(LangCol, pred)
            .filter(col(LangCol).isin(langs.toSeq: _*))
        else cleaned.filter(pred.isin(langs.toSeq: _*)))
      note(cleaned, kept, StageLang,
        s"lang_pred not in {${langs.toSeq.sorted.mkString(",")}}")
      kept
    }
    val gophered = cfg.gopher.fold(langGated) { t =>
      val g = stage(langGated.filter(TextAnalysis.gopherGate(col(cfg.textCol), t)))
      note(langGated, g, StageGopher, "failed Gopher quality thresholds")
      g
    }
    val scored = cfg.minAvgLogprob.fold(gophered) { min =>
      if (state.lmByLang.nonEmpty) {
        // per-language routing: one broadcast-model scoring branch per
        // allowed language over that language's slice, unioned — each
        // branch re-reads the stage input, so it is materialized once
        // (lazy; audit mode's stage() already checkpointed it)
        val src = if (audit) gophered
          else Materialize.deferred(gophered, "CurationPipeline.curateBatch.lmRouted")
        val keptIds = cfg.allowLangs.get.toSeq.sorted.map { lg =>
          LanguageModel.scoreDocs(src.filter(col(LangCol) === lg),
              cfg.idCol, cfg.textCol, state.lmByLang(lg))
            .filter(col("avg_logprob") >= min).select(col(cfg.idCol))
        }.reduce(_.unionByName(_))
        val kept = stage(src.join(keptIds, Seq(cfg.idCol), "left_semi"))
        noteWith(src, kept, StageLm,
          concat(lit(s"avg_logprob < $min (lm["), col(LangCol), lit("])")))
        kept
      } else {
        val lm = state.lm.getOrElse(throw new IllegalArgumentException(
          "minAvgLogprob set but no LM in CurationState — load one with LanguageModel.lmLoad"))
        // batch-local join back by id (the batch is one trigger's rows,
        // not the corpus — the scoreDocs passthrough trick is for
        // corpus-sized scoring, not needed here)
        val s = LanguageModel.scoreDocs(gophered, cfg.idCol, cfg.textCol, lm)
          .filter(col("avg_logprob") >= min).select(col(cfg.idCol))
        val kept = stage(gophered.join(s, Seq(cfg.idCol), "left_semi"))
        note(gophered, kept, StageLm, s"avg_logprob < $min")
        kept
      }
    }
    val dsirGated = cfg.minDsirLogw.fold(scored) { min =>
      val ratios = state.dsir.getOrElse(throw new IllegalArgumentException(
        "minDsirLogw set but no ratio table in CurationState — build one " +
          "with Dsir.logRatios over persisted models (Dsir.load)"))
      val kept = stage(scored.filter(
        graft.functions.DsirLogWeight(col(cfg.textCol), ratios) >= min))
      note(scored, kept, StageDsir, s"importance logw < $min")
      kept
    }
    val classified = cfg.minAvgLogodds.fold(dsirGated) { min =>
      if (state.nbByLang.nonEmpty) {
        val src = if (audit) dsirGated
          else Materialize.deferred(dsirGated, "CurationPipeline.curateBatch.nbRouted")
        val keptIds = cfg.allowLangs.get.toSeq.sorted.map { lg =>
          QualityClassifier.scoreDocs(src.filter(col(LangCol) === lg),
              cfg.idCol, cfg.textCol, state.nbByLang(lg))
            .filter(col("avg_logodds") >= min).select(col(cfg.idCol))
        }.reduce(_.unionByName(_))
        val kept = stage(src.join(keptIds, Seq(cfg.idCol), "left_semi"))
        noteWith(src, kept, StageNb,
          concat(lit(s"avg_logodds < $min (nb["), col(LangCol), lit("])")))
        kept
      } else {
        val nb = state.nb.getOrElse(throw new IllegalArgumentException(
          "minAvgLogodds set but no NB model in CurationState — load one with QualityClassifier.nbLoad"))
        val q = QualityClassifier.scoreDocs(dsirGated, cfg.idCol, cfg.textCol, nb)
          .filter(col("avg_logodds") >= min).select(col(cfg.idCol))
        val kept = stage(dsirGated.join(q, Seq(cfg.idCol), "left_semi"))
        note(dsirGated, kept, StageNb, s"avg_logodds < $min")
        kept
      }
    }

    // ---- stateful gates, cheap-reject first ----
    val (lexAdmitted, lexKeys) = cfg.lexical match {
      case None => (classified, None)
      case Some(dcfg) =>
        val (corpus, keys) = state.lexCorpus.getOrElse(
          throw new IllegalArgumentException(
            "lexical gate on but no corpus/keys in CurationState"))
        // admitWithKeys hands back the survivors' band keys from the one
        // signature pass the gate already ran — no re-shingle
        val (novel0, novelKeys) =
          StreamingDedup.admitWithKeys(classified, corpus, keys, dcfg)
        val novel = stage(novel0)
        note(classified, novel, StageLexical,
          s"lexical near-duplicate (jaccard >= ${dcfg.threshold})")
        (novel, Some(novelKeys))
    }
    def finish(admitted: DataFrame, assigned: Option[DataFrame]) = {
      // the routing column is chain-internal: callers get their own schema
      def scrub(df: DataFrame) = if (routed) df.drop(LangCol) else df
      CurationResult(scrub(admitted), lexKeys, assigned.map(scrub),
        if (!audit) None
        else Some(ledger.getOrElse(batch
          .select(col(id), lit("").as("stage"), lit("").as("reason"))
          .limit(0))))
    }
    cfg.semanticThreshold match {
      case None => finish(lexAdmitted, None)
      case Some(th) =>
        val (assignedCorpus, cents) = state.cluster.getOrElse(
          throw new IllegalArgumentException(
            "semantic gate on but no cluster state in CurationState"))
        val admitted = stage(Clustering.admitSemantic(lexAdmitted,
          assignedCorpus, cents, cfg.idCol, cfg.featureCol, th))
        note(lexAdmitted, admitted, StageSemantic,
          s"semantic near-duplicate (cosine >= $th)")
        finish(admitted, Some(admitted))
    }
  }

  /** The foreachBatch writer: read every state once, run the chain,
    * hand the survivors back for state maintenance. `writeState`
    * receives (admitted, band keys or empty, assigned rows or empty). */
  def curationWriter(updates: DataFrame, cfg: CurationConfig,
      readState: () => CurationState,
      writeState: (DataFrame, Option[DataFrame], Option[DataFrame]) => Unit)
      : DataStreamWriter[Row] = {
    updates.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val r = curateBatch(batch, cfg, readState())
        writeState(r.admitted, r.lexKeys, r.assigned)
      }
  }
}
