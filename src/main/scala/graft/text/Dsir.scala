package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.Tables._
import graft.functions.Hashing

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023) —
  * the pretraining-mix curation move the sampling family
  * (t9/t12/t16/t22) lacks: instead of stratified rates chosen by hand,
  * each raw-pool document is weighted by how much its hashed-ngram
  * feature profile resembles a TARGET corpus, and survives a
  * resampling coin proportional to that weight. The reference pipeline
  * has no counterpart; features here are hashed word BIGRAMS (the
  * paper's hashed n-grams at the scale the synthetic docs support),
  * bucketed to [[Buckets]] ids with the portable md5 h32 so the
  * DuckDB oracle derives identical features.
  *
  * INTEGER-SURROGATE HONESTY: the paper's weight is
  * exp Σ_f c_f·log(p_T(f)/p_R(f)) — a product of rate ratios. Logs
  * and float products are not bit-stable across engines (the t32/t39
  * precedent: mean p_ppm instead of perplexity), so the score here is
  * the integer MEAN of per-feature smoothed rate ratios in ppm:
  * monotone in every feature's ratio, identical in both engines, and
  * sufficient for the resampling coin, which only needs a relative
  * score. Production runs that want the exact log-domain estimator
  * can post-map the persisted per-feature table — the expensive part
  * (the two count aggregates) is shared.
  *
  * Scale shape (100 TB): both corpus sides aggregate onto the
  * BUCKET-BOUNDED feature domain (≤ [[Buckets]] rows — partial-agg
  * shuffles of a fixed-size relation), the joined ratio table
  * broadcasts back into the raw-side feature stream (scan-bound
  * explode, no corpus shuffle except the final doc-grain aggregate),
  * and the resampling coin is a content-keyed hash — no RNG state, no
  * driver loop, deterministic under retries and repartitioning.
  *
  * Overflow bound, stated: the ratio numerator
  * (ct+1)·(rawTotal+B)·10⁶ must fit int64 — true while
  * target-feature counts × raw totals stay under ~9·10¹² (any test
  * tier by orders of magnitude). A corpus near the bound switches the
  * arithmetic to DecimalType(38,0)/HUGEINT — exact in both engines —
  * at the same query shape.
  */
object Dsir {

  /** Feature-hash buckets (the paper uses 10⁴; 2¹³ keeps the bucket
    * table trivially broadcastable while leaving the synthetic
    * corpus' ~60-word vocabulary far from saturating it).
    */
  val Buckets = 8192

  /** The "quality corpus" split standing in for the paper's target
    * distribution: the English documents; the raw pool is the rest.
    */
  val TargetLang = "en"

  /** Hashed-bigram features: (doc_id, f). Lowercased-bigram grain
    * shared with the LM family ([[TextAnalysis.docBigrams]]); docs
    * with < 2 tokens contribute nothing (no bigram exists).
    */
  private[graft] def features(docs: DataFrame): DataFrame =
    TextAnalysis.docBigrams(docs)
      .select(col("doc_id"),
        pmod(Hashing.h32(concat(col("w1"), lit(" "), col("w2"))),
          lit(Buckets.toLong)).as("f"))

  /** The whole corpus's features with the target/raw flag — ONE bigram
    * pass (r18, guide §1.2: the cold DSIR queries re-ran the feature
    * explode once per corpus side and once per consumer — up to six
    * passes inside t45). (doc_id, tgt, f); filtering tgt reproduces
    * [[features]] of either side row-for-row.
    */
  private def flaggedFeatures(docs: DataFrame): DataFrame =
    TextAnalysis.docBigramsKeeping(
        docs.withColumn("tgt", col("lang") === TargetLang), Seq("tgt"))
      .select(col("doc_id"), col("tgt"),
        pmod(Hashing.h32(concat(col("w1"), lit(" "), col("w2"))),
          lit(Buckets.toLong)).as("f"))

  /** (f, ct, cr) off a [[flaggedFeatures]] relation — identical rows
    * to [[featureCounts]] of the two sides (same f universe, per-side
    * counts as conditional sums) in ONE aggregate instead of two
    * corpus passes + a full-outer join.
    */
  private def countsFromFlagged(ff: DataFrame): DataFrame =
    ff.groupBy("f").agg(
      sum(when(col("tgt"), lit(1L)).otherwise(lit(0L))).as("ct"),
      sum(when(col("tgt"), lit(0L)).otherwise(lit(1L))).as("cr"))

  /** The cold/served dichotomy every corpus-side consumer shares:
    * (raw-pool features, counts). Served: the persisted `dsir` table
    * carries the counts and only the raw features are computed (the
    * r16 posture, unchanged). Cold: BOTH derive from one checkpointed
    * [[flaggedFeatures]] pass — the raw side is a filter of it, the
    * counts one aggregate over it.
    */
  private def scoringState(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    servedCounts(s, d).fold(coldState(s, d))(servedState(s, d, _))

  private def servedState(s: SparkSession, d: String,
      c: DataFrame): (DataFrame, DataFrame) =
    (features(documents(s, d).filter(col("lang") =!= TargetLang)), c)

  private def coldState(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ff = flaggedCorpusFeatures(s, d)
    (ff.filter(!col("tgt")).select("doc_id", "f"), countsFromFlagged(ff))
  }

  /** Memoized per-(session, tier) cold [[flaggedFeatures]] checkpoint
    * — the coAdj/lpaStates lifecycle (r18): t43/t45/t46, the admission
    * stream and the rebuild of t42's [[weightsMemo]] entry each re-ran
    * the corpus bigram pass per invocation when no `dsir` table serves.
    * Bit-identical on a hit (content-hashed features off a
    * deterministic corpus); the served path is consulted first by
    * every caller.
    */
  private val ffMemo = new graft.lake.SessionMemo.Checkpointed
  private def flaggedCorpusFeatures(s: SparkSession, d: String): DataFrame =
    ffMemo(s, d)(flaggedFeatures(documents(s, d)))

  /** Per-feature smoothed rate ratio in ppm:
    * floor(10⁶ · ((ct+1)/(tt+B)) / ((cr+1)/(rt+B))) computed in pure
    * int64 (see the overflow bound above). Add-one smoothing keeps
    * never-seen-in-target features at a small positive score instead
    * of zeroing whole documents. ≤ [[Buckets]] rows — the broadcast
    * side of the scoring join.
    */
  def featureRatios(target: DataFrame, raw: DataFrame): DataFrame =
    ratiosFromCounts(featureCounts(target, raw))

  /** The persistable half of [[featureRatios]]: per-feature target/raw
    * occurrence COUNTS (f, ct, cr) — ≤ [[Buckets]] rows, and
    * count-ADDITIVE in the corpus (a delta's counts sum onto the
    * base's), which is what makes the persisted `dsir` table's
    * append ≡ rebuild exact under merge-on-read (the coadj posture).
    */
  private[graft] def featureCounts(target: DataFrame,
      raw: DataFrame): DataFrame = {
    val tf = features(target).groupBy("f").agg(count(lit(1)).as("ct"))
    val rf = features(raw).groupBy("f").agg(count(lit(1)).as("cr"))
    tf.join(rf, Seq("f"), "full_outer")
      .select(col("f"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
  }

  /** Ratio derivation from a (f, ct, cr) counts relation — shared by
    * the inline and the served path so the arithmetic cannot drift.
    * The totals are an aggregate OF the counts table itself (≤
    * [[Buckets]] rows), broadcast back — no corpus-side work.
    *
    * ADVICE r15/r16 overflow posture: BOTH int64 bounds are CHECKED
    * per row — the numerator (ct+1)·(rt+B)·10⁶ ≤ 2⁶³ AND the
    * denominator (cr+1)·(tt+B) ≤ 2⁶³ (the r16 ADVICE gap: a target
    * pool much larger than the raw pool keeps the numerator small
    * while cr·tt wraps, silently corrupting every weight the guard
    * claims to protect). A corpus near either bound gets a loud error
    * naming the DecimalType switch instead of wrapped resampling
    * weights. The guard runs on ≤ [[Buckets]] rows, off every hot
    * path.
    */
  private[graft] def ratiosFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum("ct").as("tt"), sum("cr").as("rt"))
    counts
      .crossJoin(broadcast(tot))
      .select(col("f"),
        expr(s"""CASE WHEN (ct + 1L) <= ${Long.MaxValue}L div 1000000L
                |             div (rt + ${Buckets}L)
                |         AND (cr + 1L) <= ${Long.MaxValue}L
                |             div (tt + ${Buckets}L)
                |  THEN ((ct + 1L) * (rt + ${Buckets}L) * 1000000L)
                |       div ((cr + 1L) * (tt + ${Buckets}L))
                |  ELSE CAST(raise_error(concat('graft dsir: ',
                |    '(ct+1)*(rt+B)*1e6 or (cr+1)*(tt+B) ',
                |    'exceeds int64 at f=', f,
                |    ' — switch featureRatios to DecimalType(38,0)'))
                |    AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("r_ppm"))
  }

  // ---- persisted feature-ratio table (r16, verdict #2) -------------
  // featureRatios re-aggregated BOTH corpus sides on every t42/t43 run
  // — the repo's last per-corpus derived relation without an
  // IndexTables lifecycle. The persistable relation is the (f, ct, cr)
  // COUNTS table: ≤ [[Buckets]] rows, count-additive, so an admitted
  // delta's counts APPEND as extra rows and consumers merge-on-read
  // (sum per f — the coadj posture), making append ≡ rebuild exact.
  // Stamped against documents.parquet like the other document indexes;
  // serve() falls back to the inline aggregate when no fresh table.

  private val DsirPrefix = "dsir"
  private def dsirPath(d: String): String = s"$d/documents.parquet"

  /** The tier's counts relation: target = [[TargetLang]] docs, raw =
    * the rest — the split both the persist and the inline path use.
    */
  private def countsOf(docs: DataFrame): DataFrame =
    // one corpus pass (r18): identical (f, ct, cr) rows to
    // featureCounts(target, raw) — see countsFromFlagged
    countsFromFlagged(flaggedFeatures(docs))

  /** Persist the feature-counts table for tier `d`. The table is tiny
    * (≤ [[Buckets]] rows) — 8 buckets keeps the file count small while
    * preserving the bucketed-layout contract appendIncrement needs.
    */
  def persistRatioTable(s: SparkSession, d: String, buckets: Int = 8): String =
    graft.lake.IndexTables.persist(s, countsOf(documents(s, d)),
      DsirPrefix, dsirPath(d), Seq("f"), buckets)

  /** Drop the counts table for tier `d`, if any. */
  def dropRatioTable(s: SparkSession, d: String): Unit =
    graft.lake.IndexTables.drop(s, DsirPrefix, dsirPath(d))

  /** The table's stamp — [[appendRatioTable]]'s prevSig handle. */
  def ratioStamp(s: SparkSession, d: String): Option[String] =
    graft.lake.IndexTables.stampOf(s, DsirPrefix, dsirPath(d))

  /** INCREMENTAL maintenance: after `admitted` docs land, append their
    * per-feature counts and re-stamp — sound because counts are
    * additive under the merge-on-read consumers (DsirSpec pins
    * append ≡ rebuild on corpus ∪ increment).
    */
  def appendRatioTable(s: SparkSession, d: String, admitted: DataFrame,
      prevSig: String): String =
    graft.lake.IndexTables.appendIncrement(s, countsOf(admitted),
      DsirPrefix, dsirPath(d), prevSig)

  /** The merged (f, ct, cr) relation off the persisted table when one
    * is fresh — the sum-per-f merge is the read-side half of the
    * additive-append contract.
    */
  private[graft] def servedCounts(s: SparkSession,
      d: String): Option[DataFrame] =
    graft.lake.IndexTables.serve(s, DsirPrefix, dsirPath(d)).map(t =>
      t.groupBy("f").agg(sum("ct").as("ct"), sum("cr").as("cr")))

  private def counts(s: SparkSession, d: String): DataFrame =
    // cold: one aggregate over the memoized flagged-features checkpoint
    // (r18) instead of a fresh corpus bigram pass per consumer
    servedCounts(s, d).getOrElse(
      countsFromFlagged(flaggedCorpusFeatures(s, d)))

  /** Per-raw-doc importance score: (doc_id, n_feats, score_ppm) with
    * score_ppm the integer mean of the doc's feature ratios — ≥ 10⁶
    * means "more target-like than the raw pool average". The ratio
    * side comes from the persisted counts table when one serves (the
    * 100 TB default — both corpus-side aggregates skipped), else the
    * inline aggregate; the derivation arithmetic is shared
    * ([[ratiosFromCounts]]) so the two paths cannot drift.
    */
  private def weightsFrom(st: (DataFrame, DataFrame)): DataFrame = {
    val (rawFeats, c) = st
    rawFeats
      .join(broadcast(ratiosFromCounts(c)), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("r_ppm").as("sr"))
      .select(col("doc_id"), col("n_feats"),
        expr("sr div n_feats").as("score_ppm"))
  }

  /** t42: the importance weights, auditable per doc. A fresh `dsir`
    * table is probed first and scored against on every call; without
    * one the sorted weights depend on the corpus alone and are memoized
    * whole, so a repeat call reads one checkpoint.
    */
  def t42DsirWeights(s: SparkSession, d: String): DataFrame =
    servedCounts(s, d) match {
      case Some(c) => weightsFrom(servedState(s, d, c)).orderBy("doc_id")
      case None =>
        weightsMemo(s, d)(weightsFrom(coldState(s, d)).orderBy("doc_id"))
    }

  private[graft] val weightsMemo = new graft.lake.SessionMemo.Checkpointed

  /** t43: the resample — keep a raw-pool doc iff its content-keyed
    * coin (h60(text) mod 10⁶) lands under min(score_ppm, 10⁶):
    * keep-probability proportional to the importance weight, capped
    * at 1, deterministic across runs/engines/partitionings.
    */
  def t43DsirResample(s: SparkSession, d: String): DataFrame =
    t43From(s, d, scoringState(s, d))

  private def t43From(s: SparkSession, d: String,
      st: (DataFrame, DataFrame)): DataFrame =
    documents(s, d).filter(col("lang") =!= TargetLang)
      .join(weightsFrom(st), "doc_id")
      .filter(pmod(expr(Hashing.h60Sql("text")), lit(1000000L)) <
        least(col("score_ppm"), lit(1000000L)))
      .select(col("doc_id"), col("n_feats"), col("score_ppm"))
      .orderBy("doc_id")

  /** Relation-parameterized resample — the composition form the
    * curation pipeline (pipe_span_curate) chains after the span cut:
    * `docs` is any (doc_id, lang, text, …) relation. Target-language
    * rows pass through at the probability-1 cap (the paper keeps the
    * quality corpus whole); raw rows flip the SAME content-keyed coin
    * as t43 against ratios derived FROM THIS RELATION — the mixture is
    * estimated over what survived the upstream stages, not the raw
    * corpus. Raw docs with no bigram feature drop, matching t43.
    * Output = the input columns + score_ppm.
    */
  def resampleRelation(docs: DataFrame): DataFrame = {
    val raw = docs.filter(col("lang") =!= TargetLang)
    val scored = features(raw)
      .join(broadcast(ratiosFromCounts(countsOf(docs))), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("r_ppm").as("sr"))
      .select(col("doc_id"), expr("sr div n_feats").as("score_ppm"))
    docs.filter(col("lang") === TargetLang)
      .withColumn("score_ppm", lit(1000000L))
      .unionByName(
        raw.join(scored, "doc_id")
          .filter(pmod(expr(Hashing.h60Sql("text")), lit(1000000L)) <
            least(col("score_ppm"), lit(1000000L))))
  }

  // ---- admission scoring for INCOMING docs (r17) --------------------

  /** The corpus's per-feature ratio relation, served from the persisted
    * `dsir` counts table when fresh (≤ [[Buckets]] rows — the
    * broadcast side every admission batch probes).
    */
  def corpusRatios(s: SparkSession, d: String): DataFrame =
    ratiosFromCounts(counts(s, d))

  /** DOMAIN-COMPLETE a counts relation over the full bucket space
    * [0, [[Buckets]]): features the corpus never saw get (ct=0, cr=0)
    * rows, so [[ratiosFromCounts]] prices them at the smoothed prior
    * ((0+1)·(rt+B)·10⁶) div ((0+1)·(tt+B)) — exactly what add-one
    * smoothing defines for an unseen feature — instead of the feature
    * silently vanishing from an inner scoring join (ADVICE r17: an
    * incoming doc whose features all hash to corpus-unseen buckets was
    * rejected as featureless rather than scored at the prior; t42/t43
    * can't hit this — their features come from the same corpus that
    * built the counts — but ADMISSION scores docs the corpus has never
    * seen, where unseen buckets are the expected case). Totals are
    * unchanged (the added rows are zeros), and the relation stays
    * ≤ [[Buckets]] rows — still the broadcast side.
    */
  private[graft] def completedCounts(counts: DataFrame): DataFrame =
    counts.sparkSession.range(Buckets).select(col("id").as("f"))
      .join(counts, Seq("f"), "left")
      .select(col("f"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))

  /** The ADMISSION ratio relation: [[corpusRatios]] made total over the
    * bucket domain — every possible incoming feature has a row, so
    * [[admitWith]]'s scoring join is exact for arbitrary feeds.
    */
  def admissionRatios(s: SparkSession, d: String): DataFrame =
    ratiosFromCounts(completedCounts(counts(s, d)))

  /** Score + admission-gate a relation of INCOMING docs against a
    * ratio relation derived from the CORPUS (not from the incoming
    * mixture — the difference from [[resampleRelation]], which
    * estimates ratios over its own input): the new-day-feed question
    * is "does this doc resemble the target distribution the corpus
    * was curated toward", so the reference mixture is the corpus's.
    * Output (doc_id, lang, n_feats, score_ppm, admit):
    *   - target-language docs pass at the cap (the paper keeps the
    *     quality corpus whole) — score 10⁶, admit 1;
    *   - raw docs flip t43's content-keyed coin against their corpus-
    *     ratio score — deterministic under retries/repartitioning;
    *   - raw docs with NO bigram feature (< 2 tokens) are unassessable
    *     and REJECTED (score null, admit 0) — conservative, matching
    *     t43's drop of featureless docs.
    * `ratio` must be DOMAIN-COMPLETE ([[admissionRatios]]) — features
    * hashed to corpus-unseen buckets then score at the smoothed prior
    * through the same join, instead of dropping out of n_feats and the
    * score (ADVICE r17); DsirSpec pins a fully-unseen-vocabulary doc
    * at exactly the prior ratio.
    * Shared verbatim by the batch query (t46) and
    * [[graft.streaming.Streams.dsirAdmitStream]] so the two cannot
    * drift (the screenIncrement posture).
    */
  private[graft] def admitWith(ratio: DataFrame, docs: DataFrame): DataFrame = {
    val raw = docs.filter(col("lang") =!= TargetLang)
    val scored = features(raw)
      .join(broadcast(ratio), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("r_ppm").as("sr"))
      .select(col("doc_id"), col("n_feats"),
        expr("sr div n_feats").as("score_ppm"))
    docs.select(col("doc_id"), col("lang"), col("text"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        when(col("lang") === TargetLang, lit(1000000L))
          .otherwise(col("score_ppm")).as("score_ppm"),
        when(col("lang") === TargetLang, lit(1))
          .when(col("score_ppm").isNotNull &&
            pmod(expr(Hashing.h60Sql("text")), lit(1000000L)) <
              least(col("score_ppm"), lit(1000000L)), lit(1))
          .otherwise(lit(0)).cast("int").as("admit"))
  }

  /** Batch admission scoring against tier `d`'s corpus ratios (domain-
    * complete, so corpus-unseen features price at the smoothed prior).
    */
  def admitIncoming(s: SparkSession, d: String, docs: DataFrame): DataFrame =
    admitWith(admissionRatios(s, d), docs)

  /** t46: admission scoring of a deterministic "new-day feed" slice
    * (doc_id % 5 = 0) against the full corpus's ratios — the
    * oracle-gated surface of [[admitIncoming]] (the streaming twin
    * reuses [[admitWith]] verbatim and is spec-pinned ≡ this batch
    * form per micro-batch).
    */
  def t46DsirAdmit(s: SparkSession, d: String): DataFrame =
    admitIncoming(s, d,
      documents(s, d).filter(col("doc_id") % 5 === 0))
      .orderBy("doc_id")

  // ---- production log-domain estimator (r16, verdict #5) -----------

  /** The paper's exact log-domain importance weight, as a PRODUCTION
    * API (float, engine-private — logs are not bit-stable across
    * engines, so this is sbt-pinned rather than oracle-gated; the
    * integer ppm surrogate above is the oracle-gated twin):
    * (doc_id, n_feats, log_w, score_geo_ppm) with
    *
    *   log_w = Σ_f [ log(ct_f+1) − log(tt+B) − log(cr_f+1) + log(rt+B) ]
    *
    * over the doc's features with multiplicity — log of the smoothed
    * rate-ratio PRODUCT, Xie et al. 2023's estimator — and
    * score_geo_ppm = floor(10⁶·exp(log_w / n_feats)), the geometric
    * mean put on the surrogate's ppm scale. Derived by post-mapping
    * the SAME persisted counts relation the surrogate reads (the
    * expensive half — the two corpus-side aggregates — is shared, the
    * whole point of persisting it).
    *
    * MEASURED DEVIATION from the surrogate, pinned by DsirSpec on the
    * test corpus: AM–GM gives score_geo_ppm ≤ score_ppm pointwise, so
    * the log-domain coin's survivor set is a SUBSET of t43's at the
    * same coin; the gap (surrogate-kept, log-dropped) is the docs
    * whose coin lands between the two means.
    */
  def logWeights(s: SparkSession, d: String): DataFrame =
    logWeightsFrom(scoringState(s, d))

  private def logWeightsFrom(st: (DataFrame, DataFrame)): DataFrame = {
    val (rawFeats, c) = st
    val tot = c.agg(sum("ct").as("tt"), sum("cr").as("rt"))
    val logRatio = c.crossJoin(broadcast(tot))
      .select(col("f"),
        (log(col("ct") + lit(1.0)) - log(col("tt") + lit(Buckets.toDouble)) -
          log(col("cr") + lit(1.0)) + log(col("rt") + lit(Buckets.toDouble)))
          .as("lr"))
    rawFeats
      .join(broadcast(logRatio), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr").as("log_w"))
      .select(col("doc_id"), col("n_feats"), col("log_w"),
        floor(exp(col("log_w") / col("n_feats")) * 1e6).cast("long")
          .as("score_geo_ppm"))
  }

  /** The log-domain resample under the SAME content-keyed coin as t43
    * — keep iff coin < min(score_geo_ppm, 10⁶). Same deterministic
    * replay/repartition posture; DsirSpec pins survivors ⊆ t43's and
    * the measured gap.
    */
  def logResample(s: SparkSession, d: String): DataFrame =
    logResampleFrom(s, d, scoringState(s, d))

  private def logResampleFrom(s: SparkSession, d: String,
      st: (DataFrame, DataFrame)): DataFrame =
    documents(s, d).filter(col("lang") =!= TargetLang)
      .join(logWeightsFrom(st), "doc_id")
      .filter(pmod(expr(Hashing.h60Sql("text")), lit(1000000L)) <
        least(col("score_geo_ppm"), lit(1000000L)))
      .select(col("doc_id"), col("n_feats"), col("score_geo_ppm"))
      .orderBy("doc_id")

  /** t45: the log-domain resample, ORACLE-GATED (r16 verdict #6 — it
    * was engine-private/sbt-only). Floats are not hash-stable in
    * general, but this gate is BOUNDED-COMPARE SAFE on the gate corpus,
    * in the a6/l4 style plus a measured-margin argument:
    *   - the survivor SET is robust: the closest coin to its survival
    *     boundary sits 2578 ppm away at sf0.01 (992 at sf0.001),
    *     ~6 orders above cross-engine exp/ln drift (≲ 1 ulp ≈ 10⁻⁹
    *     absolute at this scale), so both engines elect identical
    *     survivors;
    *   - score_geo_ppm = floor(exp(log_w/n)·10⁶) is integer-stable for
    *     the same reason: the closest fractional part to an integer
    *     boundary is 3.4·10⁻³ at sf0.01 (5.7·10⁻⁴ at sf0.001);
    *   - the STRUCTURAL claims ride as data: subset_ok = membership in
    *     t43's surrogate survivor set (the AM–GM containment — geo
    *     mean ≤ arithmetic mean pointwise, so the log-domain coin
    *     keeps a subset), geo_le_am = score_geo_ppm ≤ score_ppm. Both
    *     engines derive them independently; a containment break
    *     hash-mismatches loudly instead of hiding in an sbt-only pin.
    */
  def t45DsirLogResample(s: SparkSession, d: String): DataFrame = {
    // one scoringState for BOTH resamples (r18): the surrogate and the
    // log-domain leg otherwise each re-derived features + counts —
    // six cold bigram passes for one query (stage profile: twin stages)
    val st = scoringState(s, d)
    val surrogate = t43From(s, d, st)
      .select(col("doc_id"), col("score_ppm"))
    logResampleFrom(s, d, st)
      .join(surrogate, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_feats"), col("score_geo_ppm"),
        col("score_ppm").isNotNull.cast("int").as("subset_ok"),
        (col("score_ppm").isNotNull &&
          col("score_geo_ppm") <= coalesce(col("score_ppm"), lit(-1L)))
          .cast("int").as("geo_le_am"))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t42_dsir_weights" -> (t42DsirWeights _),
    "t43_dsir_resample" -> (t43DsirResample _),
    "t45_dsir_log_resample" -> (t45DsirLogResample _),
    "t46_dsir_admit" -> (t46DsirAdmit _)
  )

  /** The weights CTE chain over an arbitrary (doc_id, lang, text)
    * relation `rel` — `w(doc_id, n_feats, score_ppm)` for its raw-pool
    * rows. Shared by the t42/t43 oracles (rel = documents) and the
    * composed-pipeline oracle (rel = the post-quality cleaned docs);
    * CTE names are prefixed to keep the composition collision-free.
    */
  private[text] def weightsSqlOver(rel: String): String =
    s"""dsir_tok AS (
       |  SELECT doc_id, lang,
       |    unnest(range(len(t))) AS p, unnest(t) AS tok
       |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS t
       |        FROM $rel)),
       |dsir_bg AS (
       |  SELECT doc_id, lang, tok AS w1,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS w2
       |  FROM dsir_tok QUALIFY w2 IS NOT NULL),
       |dsir_feat AS (
       |  SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(w1 || ' ' || w2), 1, 8) AS BIGINT)
       |      % $Buckets AS f
       |  FROM dsir_bg),
       |dsir_tf AS (SELECT f, count(*) AS ct FROM dsir_feat
       |       WHERE lang = '$TargetLang' GROUP BY f),
       |dsir_rf AS (SELECT f, count(*) AS cr FROM dsir_feat
       |       WHERE lang <> '$TargetLang' GROUP BY f),
       |dsir_ratio AS (
       |  SELECT coalesce(dsir_tf.f, dsir_rf.f) AS f,
       |    ((coalesce(ct, 0) + 1) *
       |     ((SELECT sum(cr) FROM dsir_rf) + $Buckets) * 1000000)
       |    // ((coalesce(cr, 0) + 1) *
       |        ((SELECT sum(ct) FROM dsir_tf) + $Buckets)) AS r_ppm
       |  FROM dsir_tf FULL JOIN dsir_rf ON dsir_tf.f = dsir_rf.f),
       |w AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_feats,
       |    CAST(sum(r_ppm) // count(*) AS BIGINT) AS score_ppm
       |  FROM dsir_feat JOIN dsir_ratio USING (f)
       |  WHERE lang <> '$TargetLang'
       |  GROUP BY doc_id)""".stripMargin

  def oracles: Map[String, String] = Map(
    "t42_dsir_weights" ->
      s"""WITH ${weightsSqlOver("documents")}
         |SELECT doc_id, n_feats, score_ppm FROM w ORDER BY doc_id""".stripMargin,
    "t43_dsir_resample" ->
      s"""WITH ${weightsSqlOver("documents")}
         |SELECT w.doc_id, w.n_feats, w.score_ppm
         |FROM w JOIN documents d ON w.doc_id = d.doc_id
         |WHERE CAST('0x' || substr(md5(d.text), 1, 15) AS BIGINT) % 1000000
         |      < least(w.score_ppm, 1000000)
         |ORDER BY w.doc_id""".stripMargin,
    "t45_dsir_log_resample" ->
      s"""WITH ${weightsSqlOver("documents")},
         |dsir_lr AS (
         |  SELECT coalesce(dsir_tf.f, dsir_rf.f) AS f,
         |    ln(coalesce(ct, 0) + 1) - ln((SELECT sum(ct) FROM dsir_tf) + $Buckets)
         |    - ln(coalesce(cr, 0) + 1) + ln((SELECT sum(cr) FROM dsir_rf) + $Buckets)
         |      AS lr
         |  FROM dsir_tf FULL JOIN dsir_rf ON dsir_tf.f = dsir_rf.f),
         |gw AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |    CAST(floor(exp(sum(lr) / count(*)) * 1000000) AS BIGINT)
         |      AS score_geo_ppm
         |  FROM dsir_feat JOIN dsir_lr USING (f)
         |  WHERE lang <> '$TargetLang' GROUP BY doc_id),
         |surv_geo AS (
         |  SELECT gw.* FROM gw JOIN documents d USING (doc_id)
         |  WHERE CAST('0x' || substr(md5(d.text), 1, 15) AS BIGINT) % 1000000
         |        < least(score_geo_ppm, 1000000)),
         |surv_am AS (
         |  SELECT w.doc_id, w.score_ppm FROM w JOIN documents d USING (doc_id)
         |  WHERE CAST('0x' || substr(md5(d.text), 1, 15) AS BIGINT) % 1000000
         |        < least(w.score_ppm, 1000000))
         |SELECT g.doc_id, g.n_feats, g.score_geo_ppm,
         |  CAST(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
         |    AS subset_ok,
         |  CAST(CASE WHEN a.doc_id IS NOT NULL
         |            AND g.score_geo_ppm <= a.score_ppm
         |       THEN 1 ELSE 0 END AS INT) AS geo_le_am
         |FROM surv_geo g LEFT JOIN surv_am a USING (doc_id)
         |ORDER BY g.doc_id""".stripMargin,
    "t46_dsir_admit" ->
      s"""WITH ${weightsSqlOver("documents")},
         |dsir_dom AS (SELECT unnest(range($Buckets)) AS f),
         |dsir_ratio_c AS (
         |  SELECT dm.f,
         |    coalesce(r.r_ppm,
         |      ((SELECT sum(cr) FROM dsir_rf) + $Buckets) * 1000000
         |      // ((SELECT sum(ct) FROM dsir_tf) + $Buckets)) AS r_ppm
         |  FROM dsir_dom dm LEFT JOIN dsir_ratio r ON dm.f = r.f),
         |inc AS (SELECT doc_id, lang, text FROM documents
         |        WHERE doc_id % 5 = 0),
         |sc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |    CAST(sum(r_ppm) // count(*) AS BIGINT) AS score_ppm
         |  FROM dsir_feat JOIN dsir_ratio_c USING (f)
         |  WHERE lang <> '$TargetLang' AND doc_id % 5 = 0
         |  GROUP BY doc_id)
         |SELECT i.doc_id, i.lang,
         |  CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
         |  CAST(CASE WHEN i.lang = '$TargetLang' THEN 1000000
         |       ELSE s.score_ppm END AS BIGINT) AS score_ppm,
         |  CAST(CASE WHEN i.lang = '$TargetLang' THEN 1
         |       WHEN s.score_ppm IS NOT NULL
         |            AND CAST('0x' || substr(md5(i.text), 1, 15) AS BIGINT)
         |                % 1000000 < least(s.score_ppm, 1000000) THEN 1
         |       ELSE 0 END AS INT) AS admit
         |FROM inc i LEFT JOIN sc s USING (doc_id)
         |ORDER BY i.doc_id""".stripMargin
  )
}
