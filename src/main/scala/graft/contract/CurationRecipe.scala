package graft.contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** END-TO-END CURATION RECIPE — contract-as-code for the LLM-pretraining
  * data pipeline, promoting the oracle-green stages from "compose them by
  * reading SparkEntry" into ONE registered, serializable contract (the
  * reference's contract-as-code story for feature views,
  * feature_view/feature_view.py:673-720, applied to corpus curation).
  *
  * Stage order is the production (RefinedWeb/FineWeb) shape, each stage an
  * already-oracle-gated operator:
  *   0. decontamination            — [[graft.ops.TextAnalysis.decontaminate]]
  *      (q62; optional — the eval slice leaves the corpus and docs sharing
  *      an n-gram with it drop, BEFORE any other stage sees them)
  *   1. Gopher quality gate        — [[graft.ops.TextAnalysis.gopherFilter]] (q152)
  *   2. MinHash near-dup pairs     — [[graft.ops.Dedup.nearDuplicatesPortable]] (q136)
  *   3. keep-BEST canonicalization — [[graft.ops.Dedup.canonicalizeBy]] (q158)
  *   3b. CCNet LM-quality filter   — [[graft.ops.TextAnalysis.lmQualityPartition]]
  *       (q169; optional — dedup THEN perplexity-filter is CCNet's own
  *       order, and the LLaMA recipe keeps head+middle, drops tail)
  *   4. threshold-DSIR selection   — [[graft.ml.MLOps.dsirSelectByThreshold]] (q153)
  *   5. leakage-safe split         — [[graft.ml.MLOps.leakageSafeSplit]] (q163)
  *
  * Canonicalization already keeps one best doc per near-dup component, so
  * most components reaching stage 5 are singletons; routing the split by
  * component anyway is deliberate belt-and-braces — any residual pair
  * (e.g. docs whose similarity sits just under the canonicalization
  * threshold but still bands together) moves to ONE side by construction.
  *
  * Every knob is plain data — no closures — so the recipe serializes into
  * the contract registry next to views and models
  * ([[ContractJson.recipeToJson]]) and a loaded registry can re-run the
  * exact pipeline. The target-slice predicate is expressed as
  * (column = value) for the same reason; richer predicates belong in a
  * derived column upstream.
  *
  * At 100 TB nothing here changes shape: every stage is the operator's
  * own scale path (banded candidate generation, component-partitioned
  * top-1 window, O(bands)-driver threshold refinement, one left join for
  * the split router).
  */
final case class CurationRecipe(
    name: String,
    textCol: String = "text",
    idCol: String = "doc_id",
    // stage 0: decontamination — eval slice as (column = value); None
    // skips. Eval rows LEAVE the corpus (they are held-out data, not
    // training candidates), and corpus docs sharing any decontamN-gram
    // with them drop — the GPT-3/PaLM doc-level rule; span excision
    // (Dedup.decontaminateByExcision) is the surgical alternative for
    // pipelines that keep the prose
    decontamCol: Option[String] = None,
    decontamValue: String = "",
    decontamN: Int = 5,
    // "drop" removes whole contaminated docs (the GPT-3/PaLM rule);
    // "excise" keeps them with the overlapping windows cut out
    // (Dedup.decontaminateByExcision — the surgical FineWeb-style path);
    // every later stage then sees the CLEANED text
    decontamMode: String = "drop",
    // stage 1: Gopher gate
    gopherMinWords: Int = 20,
    gopherRuleMask: Long = 63L,
    // stage 2: near-dup candidate generation
    nearDupThreshold: Double = 0.5,
    nearDupBands: Int = 4,
    nearDupK: Int = 3,
    // stage 3: keep-best rule — score column (higher wins, id tiebreak);
    // None scores by token count (keep the longest member)
    qualityScoreCol: Option[String] = None,
    // stage 3b: CCNet LM filter — reference slice as (column = value);
    // None skips the stage. When set, a unigram model trained on the
    // canonical corpus's reference slice drops the tail tercile
    ccnetRefCol: Option[String] = None,
    ccnetRefValue: String = "",
    // stage 4: DSIR target slice as (column = value); keepPct = 100 (or no
    // target column) skips selection
    dsirTargetCol: Option[String] = None,
    dsirTargetValue: String = "",
    dsirKeepPct: Int = 100,
    dsirBuckets: Int = 4096,
    // stage 5: leakage-safe split
    trainPct: Int = 80,
    ccMaxIter: Int = 30,
    description: Option[String] = None) {

  require(trainPct >= 0 && trainPct <= 100, s"trainPct=$trainPct out of [0,100]")
  require(dsirKeepPct >= 0 && dsirKeepPct <= 100, s"dsirKeepPct=$dsirKeepPct out of [0,100]")
  require(nearDupBands >= 1 && nearDupK >= 1, "nearDupBands/nearDupK must be >= 1")
  require(decontamMode == "drop" || decontamMode == "excise",
    s"decontamMode must be 'drop' or 'excise', got '$decontamMode'")

  /** The per-stage survivor frames both execution modes consume — ONE
    * pipeline body, so [[run]] and [[runAudit]] cannot drift apart in a
    * configuration no spec exercises (the RecipeAuditSpec audit-kept ≡
    * run()-kept equality is now true by construction, and the spec is
    * the regression tripwire, not the only guard). */
  private final class Stages(
      val decontamKeep: Option[DataFrame],
      val gatePass: DataFrame, val pairs: DataFrame, val canonIds: DataFrame,
      val lmKeptIds: Option[DataFrame], val selectedIds: Option[DataFrame],
      val split: DataFrame)

  /** The eval-membership predicate of stage 0 (None when the stage is
    * off). coalesce: a null slice column is "not eval". */
  private def evalPredicate: Option[Column] = decontamCol.map(dc =>
    coalesce(col(dc) === lit(decontamValue), lit(false)))

  /** Stage 0's kept-id list, shared by [[stages]] and [[ingestStages]]
    * (one body, the no-drift discipline): `rest` docs minus those sharing
    * any decontamN-gram with `bench`, checkpointed. An eval slice that
    * selects ZERO rows fails loudly — the same misconfiguration class as
    * an empty CCNet reference (a typo'd decontamValue would otherwise
    * silently ship an undecontaminated corpus the operator believes is
    * decontaminated). */
  private def decontamKeepIds(rest: DataFrame, bench: DataFrame): DataFrame = {
    require(bench.limit(1).count() > 0,
      s"CurationRecipe '$name': decontamination is configured " +
        s"($decontamCol = '$decontamValue') but the eval slice selects ZERO " +
        "rows — the stage would be a silent no-op; check the slice value")
    val contaminated = graft.ops.TextAnalysis.decontaminate(
      rest, bench, textCol, idCol, n = decontamN).select(col(idCol))
    rest.join(contaminated, Seq(idCol), "left_anti")
      .select(col(idCol)).localCheckpoint(true)
  }

  /** Stage 0's "excise" form, shared like [[decontamKeepIds]]: rebuild
    * `rest` with the benchmark-overlapping windows cut out of `textCol`
    * (same empty-eval-slice loud guard). The excision op is total, so
    * every `rest` doc survives — possibly with empty text, which the
    * Gopher gate then handles under its own rules. */
  private def exciseAgainst(rest: DataFrame, bench: DataFrame): DataFrame = {
    require(bench.limit(1).count() > 0,
      s"CurationRecipe '$name': decontamination is configured " +
        s"($decontamCol = '$decontamValue') but the eval slice selects ZERO " +
        "rows — the stage would be a silent no-op; check the slice value")
    // localCheckpoint (optimization r15): every downstream stage scans the
    // excised corpus (gate, near-dup grams, keep-best, DSIR, split), and an
    // unmaterialized excision replayed its whole gram-explode + span-join +
    // text-rebuild chain on each scan (~5x per recipe run). This is the one
    // deliberate text-bearing checkpoint in the recipe: O(cleaned corpus)
    // bytes once (MEMORY_AND_DISK, spills at scale) against ~5 replays of
    // a corpus-scale pipeline — the same materialize-once call Lee et al.'s
    // excision step makes by writing the cleaned corpus out.
    val cleaned = graft.ops.Dedup.decontaminateByExcision(
        rest, bench, textCol, idCol, n = decontamN)
      .select(col(idCol), col("text_clean").as(textCol))
      .localCheckpoint(true)
    rest.drop(textCol).join(cleaned, Seq(idCol))
  }

  /** First-drop-stage label chain shared by the two audits: conditions in
    * funnel order, each naming the stage that claims the doc; anything
    * surviving them all is 'kept'. */
  private def firstDropStage(conds: Seq[(Column, String)]): Column =
    conds.foldLeft(when(lit(false), lit(""))) {
      case (c, (p, l)) => c.when(p, lit(l))
    }.otherwise(lit("kept"))

  /** Execute the pipeline stages over `docs`.
    *
    * Reuse discipline (the q153-capstone pattern): every cross-stage
    * intermediate is a BOUNDED id list (O(docs) longs, no text),
    * localCheckpointed so its producing corpus scan runs once, and each
    * stage's corpus frame is rebuilt as one cheap semi-join of the gated
    * scan against that list — every reuse then costs a shallow scan, not
    * a replay of the CC + keep-best window chain. Connected components run
    * ONCE and feed both keep-best canonicalization and the split router
    * via the operators' `components` hooks. */
  private def stages(docs: DataFrame): Stages = {
    // 0. decontamination — the eval slice leaves the corpus and every doc
    // sharing an n-gram with it drops; the kept-id list is the stage's
    // audit artifact (eval membership itself is a plain column predicate
    // and needs no list)
    val (corpus0, decontamKeep) = evalPredicate match {
      case Some(isEval) if decontamMode == "excise" =>
        // surgical mode: no doc drops at stage 0 (beyond the eval rows) —
        // the overlapping windows are cut and every later stage sees the
        // cleaned text; the excision op is total, so the id set is
        // exactly the non-eval input
        (exciseAgainst(docs.filter(!isEval), docs.filter(isEval)), None)
      case Some(isEval) =>
        val keep = decontamKeepIds(docs.filter(!isEval), docs.filter(isEval))
        (docs.join(keep, Seq(idCol), "left_semi"), Some(keep))
      case _ => (docs, None)
    }
    // 1. quality gate — keep docs passing every enabled Gopher rule
    val gatePass = graft.ops.TextAnalysis.gopherFilter(corpus0, textCol, idCol,
        minWords = gopherMinWords, ruleMask = gopherRuleMask)
      .filter(col("fail_mask") === 0L).select(col(idCol))
      .localCheckpoint(true)
    val gated = corpus0.join(gatePass, Seq(idCol), "left_semi")
    // 2. near-dup pairs over the gated corpus (banded — never all-pairs),
    // folded once into the CC label table (O(paired docs) longs)
    val pairs = graft.ops.Dedup.nearDuplicatesPortable(gated, textCol, idCol,
      threshold = nearDupThreshold, bands = nearDupBands, k = nearDupK)
    val comps = Some(graft.ops.Dedup.connectedComponents(pairs,
      maxIter = ccMaxIter))
    // 3. keep the best member of every near-dup component
    val canonIds = graft.ops.Dedup.canonicalizeBy(gated, pairs, idCol,
        memberScore, components = comps)
      .select(col(idCol)).localCheckpoint(true)
    val canonShallow = gated.join(canonIds, Seq(idCol), "left_semi")
    // 3b. CCNet LM filter — unigram model on the canonical corpus's
    // reference slice, drop the tail tercile (dedup-then-perplexity is
    // CCNet's own order). An empty/all-whitespace reference fails loudly
    // inside lmQualityPartition
    val lmKeptIds = ccnetRefCol.map { rc =>
      graft.ops.TextAnalysis.lmQualityPartition(
          canonShallow.filter(col(rc) === lit(ccnetRefValue)), canonShallow,
          textCol, idCol)
        .filter(col("part") =!= "tail").select(col(idCol))
        .localCheckpoint(true)
    }
    val afterLm = lmKeptIds.map(k => canonShallow.join(k, Seq(idCol), "left_semi"))
      .getOrElse(canonShallow)
    // 4. importance-select toward the target slice
    val selectedIds = dsirTargetCol.collect { case tc if dsirKeepPct < 100 =>
      graft.ml.MLOps.dsirSelectByThreshold(afterLm, textCol, idCol,
          col(tc) === lit(dsirTargetValue),
          buckets = dsirBuckets, keepPct = dsirKeepPct)
        .filter(col("selected")).select(col(idCol)).localCheckpoint(true)
    }
    val afterSel = selectedIds.map(k => afterLm.join(k, Seq(idCol), "left_semi"))
      .getOrElse(afterLm)
    // 5. leakage-safe split routed by the SAME component labels — residual
    // components move whole
    new Stages(decontamKeep, gatePass, pairs, canonIds, lmKeptIds, selectedIds,
      graft.ml.MLOps.leakageSafeSplit(afterSel, pairs, idCol,
        trainPct = trainPct, ccMaxIter = ccMaxIter, components = comps))
  }

  /** The stage-3 keep-best score: the configured column, else token count
    * (keep the longest member). */
  private def memberScore: Column =
    qualityScoreCol.map(col).getOrElse(
      size(filter(split(lower(trim(col(textCol))), "\\s+"),
        w => length(w) > 0)).cast("long"))

  /** Execute the recipe over a document frame. Returns the curated corpus:
    * the input columns of every surviving doc plus (component, split).
    *
    * Checkpoint lifecycle: the returned frame READS the pipeline's
    * checkpointed id/label blocks lazily, so run() cannot release them
    * itself (truncated lineage is not recomputable) — they live until
    * session end or a caller-side unpersist once the result is consumed.
    * They are id and label rows ONLY (never text), so retention is
    * O(docs) longs per run — unlike the corpus×bucket-scaled trainer fold
    * perceptronTrain releases eagerly; a service looping over recipes
    * should checkpoint its OWN consumption of the result and release
    * both. */
  def run(docs: DataFrame): DataFrame = stages(docs).split

  /** FUNNEL AUDIT — per-document drop attribution across the recipe's
    * stages: every INPUT doc gets exactly one row (idCol, stage, split)
    * where stage names the FIRST stage that dropped the doc — 'gate'
    * (Gopher rules), 'near_dup' (lost keep-best canonicalization),
    * 'lm_tail' (CCNet tail tercile), 'dsir' (below the importance
    * threshold) — or 'kept', and split is non-null exactly for kept docs.
    * Disabled stages never label. THE curation ops primitive at 100 TB:
    * "why did the corpus shrink 40%?" is one group-by over this frame,
    * and any single doc's fate is a point lookup.
    *
    * Shares [[stages]] with [[run]] — same operators, same knobs, same
    * frames by construction; the attribution itself is four id-list left
    * joins over the stages' checkpointed survivor lists — never a second
    * corpus-scale shuffle. */
  def runAudit(docs: DataFrame): DataFrame = {
    val st = stages(docs)
    val splitDf = st.split.select(col(idCol), col("split"))
    def mark(df: DataFrame, m: String) = df.withColumn(m, lit(1))
    // eval membership is a plain predicate on the input row — evaluated
    // inline, no join; it must label BEFORE 'contaminated' (eval rows are
    // absent from decontamKeep too)
    var out = docs.select(col(idCol) +: evalPredicate.map(_.as("__e")).toSeq: _*)
    st.decontamKeep.foreach(k => out = out.join(mark(k, "__d"), Seq(idCol), "left"))
    out = out
      .join(mark(st.gatePass, "__g"), Seq(idCol), "left")
      .join(mark(st.canonIds, "__c"), Seq(idCol), "left")
    st.lmKeptIds.foreach(k => out = out.join(mark(k, "__l"), Seq(idCol), "left"))
    st.selectedIds.foreach(k => out = out.join(mark(k, "__s"), Seq(idCol), "left"))
    out = out.join(splitDf, Seq(idCol), "left")
    val stage = firstDropStage(
      (if (decontamCol.nonEmpty) Seq(col("__e") -> "eval_slice") else Nil) ++
      st.decontamKeep.map(_ => col("__d").isNull -> "contaminated").toSeq ++
      Seq(col("__g").isNull -> "gate", col("__c").isNull -> "near_dup") ++
      st.lmKeptIds.map(_ => col("__l").isNull -> "lm_tail").toSeq ++
      st.selectedIds.map(_ => col("__s").isNull -> "dsir").toSeq)
    out.select(col(idCol), stage.as("stage"), col("split"))
  }

  /** INCREMENTAL INGEST — the recipe's daily-batch path (SparkEntry q181):
    * admit a NEW batch against an already-curated corpus without ever
    * re-pairing corpus×corpus.
    *
    *   0. decontaminate the batch (when configured — a per-doc stateless
    *      rule given the eval slice, so it applies on ingest, against the
    *      corpus's eval slice plus the batch's own eval rows);
    *   1. Gopher-gate the batch (the per-doc stateless stage — same knobs);
    *   2. near-dup PROBE the corpus band index
    *      ([[graft.ops.Dedup.nearDuplicatesAgainstPortable]], the q159
    *      ingest shape: O(new × bucket collisions), corpus never
    *      self-pairs). A new doc pairing with ANY corpus doc drops —
    *      the corpus member is already canonical, so the corpus wins;
    *   3. within-batch clusters (new×new pairs) keep their BEST member
    *      (the run() score rule);
    *   4. leakage-safe split routed by the new-pair components.
    *
    * Corpus-DEPENDENT stages (the CCNet tercile, the DSIR threshold) are
    * deliberately NOT recomputed per ingest — their cutoffs move with the
    * whole corpus distribution, so they refresh on the next full [[run]],
    * not on every batch (CCNet's own batch-vs-refresh split). Returns the
    * admitted batch docs + (component, split) — the same shape as [[run]],
    * ready to append to the corpus. */
  def runIncremental(corpus: DataFrame, newBatch: DataFrame): DataFrame =
    ingestStages(corpus, newBatch).split

  /** The ingest path's per-stage survivor frames — one body shared by
    * [[runIncremental]] and [[runIncrementalAudit]], the same
    * no-drift-by-construction discipline as [[stages]]. */
  private final class IngestStages(
      val decontamKeep: Option[DataFrame], val gatePass: DataFrame,
      val corpusDup: DataFrame, val canonIds: DataFrame,
      val split: DataFrame)

  private def ingestStages(corpus: DataFrame, newBatch: DataFrame): IngestStages = {
    // stage 0 per batch: unlike the CCNet/DSIR cutoffs (which move with
    // the corpus distribution and refresh on full run()), decontamination
    // is a per-doc STATELESS rule given the eval slice — so the batch
    // decontaminates on ingest: its own eval rows drop (held-out data is
    // never a training candidate), and batch docs overlapping the
    // standing corpus's eval slice ∪ the batch's eval rows drop
    val (batch0, decontamKeep) = evalPredicate match {
      case Some(isEval) =>
        val bench = corpus.filter(isEval).select(col(idCol), col(textCol))
          .unionByName(newBatch.filter(isEval).select(col(idCol), col(textCol)))
        if (decontamMode == "excise")
          (exciseAgainst(newBatch.filter(!isEval), bench), None)
        else {
          val keep = decontamKeepIds(newBatch.filter(!isEval), bench)
          (newBatch.join(keep, Seq(idCol), "left_semi"), Some(keep))
        }
      case _ => (newBatch, None)
    }
    val gatePass = graft.ops.TextAnalysis.gopherFilter(batch0, textCol, idCol,
        minWords = gopherMinWords, ruleMask = gopherRuleMask)
      .filter(col("fail_mask") === 0L).select(col(idCol))
      .localCheckpoint(true)
    val gated = batch0.join(gatePass, Seq(idCol), "left_semi")
    // O(pairs) id rows, referenced three times below — checkpoint once
    val pairs = graft.ops.Dedup.nearDuplicatesAgainstPortable(corpus, gated,
        textCol, idCol, threshold = nearDupThreshold,
        bands = nearDupBands, k = nearDupK)
      .select("id_a", "id_b").localCheckpoint(true)
    val newIds = gated.select(col(idCol))
    val marked = pairs
      .join(newIds.select(col(idCol).as("id_a")).withColumn("__an", lit(1)),
        Seq("id_a"), "left")
      .join(newIds.select(col(idCol).as("id_b")).withColumn("__bn", lit(1)),
        Seq("id_b"), "left")
    // exactly one side new → the new side duplicates the standing corpus.
    // Checkpointed: consumed by the survivor anti-join AND the audit's
    // attribution join
    val corpusDup = marked.filter(col("__an").isNotNull && col("__bn").isNull)
      .select(col("id_a").as(idCol))
      .unionByName(marked.filter(col("__bn").isNotNull && col("__an").isNull)
        .select(col("id_b").as(idCol)))
      .distinct().localCheckpoint(true)
    val survivors = gated.join(corpusDup, Seq(idCol), "left_anti")
    val newPairs = marked.filter(col("__an").isNotNull && col("__bn").isNotNull)
      .select("id_a", "id_b")
    // ONE CC run over the new-only pairs feeds keep-best AND the router;
    // components may be labeled through a corpus-dropped member — harmless,
    // labels only need consistency, not survivorship
    val comps = Some(graft.ops.Dedup.connectedComponents(newPairs,
      maxIter = ccMaxIter))
    val canonIds = graft.ops.Dedup.canonicalizeBy(survivors, newPairs, idCol,
        memberScore, components = comps)
      .select(col(idCol)).localCheckpoint(true)
    val canonical = survivors.join(canonIds, Seq(idCol), "left_semi")
    new IngestStages(decontamKeep, gatePass, corpusDup, canonIds,
      graft.ml.MLOps.leakageSafeSplit(canonical, newPairs, idCol,
        trainPct = trainPct, ccMaxIter = ccMaxIter, components = comps))
  }

  /** FUNNEL AUDIT for the ingest path (the [[runAudit]] of
    * [[runIncremental]]): every BATCH doc gets exactly one row (idCol,
    * stage, split) where stage names the first ingest stage that dropped
    * it — 'eval_slice', 'contaminated' (when stage 0 is configured),
    * 'gate', 'corpus_dup' (duplicates the standing corpus — the corpus
    * member is already canonical, so the batch doc loses), 'near_dup'
    * (lost within-batch keep-best) — or 'kept' with its split. The daily
    * ops question "why did today's batch shrink?" is one group-by over
    * this frame. Attribution = id-list left joins over [[ingestStages]]'
    * checkpointed survivor lists; never a second batch-scale shuffle. */
  def runIncrementalAudit(corpus: DataFrame, newBatch: DataFrame): DataFrame = {
    val st = ingestStages(corpus, newBatch)
    val splitDf = st.split.select(col(idCol), col("split"))
    def mark(df: DataFrame, m: String) = df.withColumn(m, lit(1))
    var out = newBatch.select(col(idCol) +: evalPredicate.map(_.as("__e")).toSeq: _*)
    st.decontamKeep.foreach(k => out = out.join(mark(k, "__d"), Seq(idCol), "left"))
    out = out
      .join(mark(st.gatePass, "__g"), Seq(idCol), "left")
      .join(mark(st.corpusDup, "__cd"), Seq(idCol), "left")
      .join(mark(st.canonIds, "__c"), Seq(idCol), "left")
      .join(splitDf, Seq(idCol), "left")
    val stage = firstDropStage(
      (if (decontamCol.nonEmpty) Seq(col("__e") -> "eval_slice") else Nil) ++
      st.decontamKeep.map(_ => col("__d").isNull -> "contaminated").toSeq ++
      Seq(col("__g").isNull -> "gate",
        col("__cd").isNotNull -> "corpus_dup",
        col("__c").isNull -> "near_dup"))
    out.select(col(idCol), stage.as("stage"), col("split"))
  }
}
