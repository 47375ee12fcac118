package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.Tables._

/** Composed training-data prep pipeline — the operators working
  * together the way a real corpus build runs them:
  *
  *   quality filter → exact dedup → near-dup removal → corpus stats
  *
  * One declarative plan end-to-end: Catalyst sees the whole chain, so
  * the quality filter prunes rows BEFORE any dedup hashing, the exact
  * dedup halves the LSH input, and nothing materializes in between.
  * That ordering is the at-scale playbook: cheapest filter first, each
  * stage shrinks the next stage's input.
  */
object Pipelines {

  /** t4's quality score (floor'd basis points, see TextAnalysis). */
  private val qualityBpSql =
    """floor((least(cast(n_chars as double) / 500.0, 1.0) * 0.5 +
      |  (1.0 - cast(size(filter(split(text, ' '),
      |             x -> x IN ('the', 'a', 'of', 'and', 'in'))) as double)
      |     / size(split(text, ' '))) * 0.5) * 10000.0)""".stripMargin

  /** Keep docs with quality ≥ 0.65, drop exact then near duplicates,
    * report surviving docs per language.
    */
  def pipeDocsPrep(s: SparkSession, d: String): DataFrame = {
    val quality = documents(s, d).filter(expr(s"$qualityBpSql >= 6500"))
    val exact = Dedup.dropExactDuplicates(quality)
    val clean = Dedup.dropNearDuplicates(exact, minJaccard = 0.8)
    clean.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** The round-4 curation chain: quality filter → exact dedup →
    * stratified downsample → sequence packing, ONE declarative plan.
    * Stage order is the at-scale playbook again — the scan-bound
    * quality filter and the keyed sample both prune before the dedup
    * shuffle... except the sample must run AFTER dedup (sampling first
    * could keep a duplicate whose lower-id twin was sampled out,
    * changing which survivor dedup picks — order matters and is part
    * of the pipeline's contract). Packing runs last over exactly the
    * surviving docs, via the distributed two-pass prefix sum
    * ([[graft.ops.PrefixSum.runningBefore]], r16 verdict #2 — the
    * per-lang running-sum window this replaced was the exact
    * single-task-per-language sort r13 evicted from t10; the swap is
    * bit-identical by PrefixSumSpec's reassociation pin, so the oracle
    * hash does not move). Every stage is deterministic, so the whole
    * chain is oracle-checked end-to-end.
    */
  def pipeCuratePack(s: SparkSession, d: String): DataFrame = {
    val quality = documents(s, d).filter(expr(s"$qualityBpSql >= 6500"))
    val exact = Dedup.dropExactDuplicates(quality)
    val sampled = graft.ops.Sampling.stratified(
      exact, col("lang"), col("doc_id"),
      rates = Map("en" -> 0.5), defaultRate = 0.9, salt = "cur")
    // quality + dedup + sample lineage feeds the prefix sum's two
    // consumers — materialize once (the PrefixSum caller note)
    val sized = sampled
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .localCheckpoint()
    graft.ops.PrefixSum.runningBefore(
        sized, "lang", "doc_id", "n_tokens", "tok_before")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("tok_before div 2048L").as("pack_id"))
      .orderBy("doc_id")
  }

  /** The FULL curation chain (r16): span cut → quality filter on the
    * CLEANED text → DSIR importance resample → exact dedup → sequence
    * packing — one declarative plan end-to-end, proving the
    * `text_clean` relation composes through the whole LLM-curation
    * stack rather than feeding one aggregate. Stage order is the
    * at-scale playbook with the cut FIRST: boilerplate spans must not
    * count toward quality length, must not contribute dedup
    * fingerprints, and must not inflate the DSIR feature mixture —
    * every downstream stage reads the text a trainer would actually
    * see. The DSIR ratios are estimated over the post-quality
    * survivors (the mixture of what remains, [[Dsir.resampleRelation]]);
    * the packing prefix sum is the distributed two-pass scan
    * ([[graft.ops.PrefixSum]]), not a per-lang window. The cut's
    * occurrence side serves from the persisted `ngo` table when fresh.
    */
  def pipeSpanCurate(s: SparkSession, d: String): DataFrame = {
    val cleaned = SubstringDedup.cleanedCorpus(s, d)
      .join(documents(s, d).select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("text_clean").as("text"))
    // r18 optimization (guide §5 lineage / §1 measure-first):
    // [[Dsir.resampleRelation]] consumes its input relation FOUR times
    // (feature explode, counts aggregate, target-lang passthrough, the
    // survivor join), and here that input carries the whole span-cut
    // lineage — token explode, marker window, per-doc text rebuild —
    // which Catalyst re-evaluates once per consumer (r18 stage profile:
    // two ~19 s twin stages + a 3× union read on the cold path).
    // Materializing the cut+quality survivors ONCE is bit-identical
    // (same rows feed every consumer) and turns the four cut passes
    // into one: 5.62 s → ~2.8 s wall. The sized checkpoint below
    // keeps its own role (dedup output feeding the prefix sum's two
    // consumers).
    val quality = cleaned
      .withColumn("n_chars", length(col("text")))
      .filter(expr(s"$qualityBpSql >= 6500"))
      .drop("n_chars")
      .localCheckpoint()
    val exact = Dedup.dropExactDuplicates(Dsir.resampleRelation(quality))
    // expensive lineage (cut + resample) feeds the prefix sum's two
    // consumers — materialize once (the PrefixSum caller note)
    val sized = exact
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .localCheckpoint()
    graft.ops.PrefixSum.runningBefore(
        sized, "lang", "doc_id", "n_tokens", "tok_before")
      .select(col("doc_id"), col("lang"),
        col("n_tokens").cast("int").as("n_tokens"),
        col("score_ppm").cast("long").as("score_ppm"),
        expr("tok_before div 2048L").as("pack_id"))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_docs_prep" -> (pipeDocsPrep _),
    "pipe_curate_pack" -> (pipeCuratePack _),
    "pipe_span_curate" -> (pipeSpanCurate _))

  private val qualityBpDuck =
    """floor((least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.5 +
      |  (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |             x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
      |     / len(string_split(text, ' '))) * 0.5) * 10000.0)""".stripMargin

  /** The cleaned-text quality predicate for the pipe_span_curate
    * oracle: [[qualityBpDuck]] with n_chars derived from the cleaned
    * string instead of the documents column.
    */
  private val qualityCleanDuck = qualityBpDuck
    .replace("CAST(n_chars AS DOUBLE)", "CAST(length(text) AS DOUBLE)")

  def oracles: Map[String, String] = Map(
    "pipe_span_curate" -> {
      val n = SubstringDedup.N
      val posCap = 1L << 20
      s"""WITH cdocs0 AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |cocc AS (
         |  SELECT doc_id, unnest(range(len(t)-${n - 1})) AS s,
         |    unnest(list_transform(range(len(t)-${n - 1}),
         |      i -> array_to_string(list_slice(t, i+1, i+$n), ' '))) AS ng
         |  FROM cdocs0 WHERE len(t) >= $n),
         |ccanon AS (SELECT ng, min(doc_id * $posCap + s) AS ck
         |           FROM cocc GROUP BY ng HAVING count(*) >= 2),
         |ccuts AS (SELECT o.doc_id, o.s FROM cocc o JOIN ccanon c USING (ng)
         |          WHERE o.doc_id * $posCap + o.s <> c.ck),
         |ctok AS (SELECT doc_id, unnest(range(len(t))) AS p,
         |         unnest(t) AS tok FROM cdocs0),
         |cev AS (
         |  SELECT doc_id, p, tok, FALSE AS iscut FROM ctok
         |  UNION ALL
         |  SELECT doc_id, s AS p, NULL AS tok, TRUE AS iscut FROM ccuts),
         |cmk AS (
         |  SELECT doc_id, p, tok, iscut,
         |    max(CASE WHEN iscut THEN p END) OVER
         |      (PARTITION BY doc_id ORDER BY p
         |       RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS lastcut
         |  FROM cev),
         |ckept AS (SELECT doc_id, p, tok FROM cmk
         |          WHERE NOT iscut AND lastcut IS NULL),
         |cagg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ctext
         |         FROM ckept GROUP BY doc_id),
         |cd AS (SELECT d.doc_id, m.lang, coalesce(a.ctext, '') AS text
         |       FROM cdocs0 d
         |       LEFT JOIN cagg a USING (doc_id)
         |       JOIN documents m USING (doc_id)),
         |q AS (SELECT doc_id, lang, text FROM cd
         |      WHERE $qualityCleanDuck >= 6500),
         |${Dsir.weightsSqlOver("q")},
         |surv AS (
         |  SELECT doc_id, lang, text, 1000000 AS score_ppm FROM q
         |  WHERE lang = '${Dsir.TargetLang}'
         |  UNION ALL
         |  SELECT q.doc_id, q.lang, q.text, w.score_ppm
         |  FROM q JOIN w USING (doc_id)
         |  WHERE q.lang <> '${Dsir.TargetLang}'
         |    AND CAST('0x' || substr(md5(q.text), 1, 15) AS BIGINT) % 1000000
         |        < least(w.score_ppm, 1000000)),
         |ex AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
         |       ORDER BY doc_id) AS xrn FROM surv),
         |kept2 AS (SELECT doc_id, lang, text, score_ppm FROM ex WHERE xrn = 1),
         |tok2 AS (SELECT doc_id, lang, score_ppm,
         |         len(string_split(text, ' ')) AS n_tokens FROM kept2)
         |SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  CAST(score_ppm AS BIGINT) AS score_ppm,
         |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
         |    AS BIGINT) AS pack_id
         |FROM tok2 ORDER BY doc_id""".stripMargin
    },
    "pipe_curate_pack" -> (
      s"""WITH qdocs AS (
         |  SELECT * FROM documents WHERE $qualityBpDuck >= 6500
         |), ex AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text)
         |    ORDER BY doc_id) AS xrn FROM qdocs
         |), samp AS (
         |  SELECT doc_id, lang, text FROM ex
         |  WHERE xrn = 1
         |    AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cur'), 1, 8)
         |          AS BIGINT) % 1000000
         |        < CASE WHEN lang = 'en' THEN 500000 ELSE 900000 END
         |), tok AS (
         |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
         |  FROM samp
         |)
         |SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
         |    AS BIGINT) AS pack_id
         |FROM tok ORDER BY doc_id""".stripMargin),
    "pipe_docs_prep" -> (
      s"""WITH qdocs AS (
         |  SELECT * FROM documents WHERE $qualityBpDuck >= 6500
         |), ex AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text)
         |    ORDER BY doc_id) AS xrn FROM qdocs
         |), kept AS (
         |  SELECT doc_id, text, lang FROM ex WHERE xrn = 1
         |), """.stripMargin
        + Dedup.candidateCtes("kept") +
        """, jac AS (
          |  SELECT doc_a, doc_b,
          |    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
          |      (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4) AS j
          |  FROM pairs JOIN sh sa ON doc_a = sa.doc_id
          |             JOIN sh sb ON doc_b = sb.doc_id
          |), losers AS (
          |  SELECT DISTINCT doc_b FROM jac WHERE j >= 0.8
          |)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
          |FROM kept WHERE doc_id NOT IN (SELECT doc_b FROM losers)
          |GROUP BY lang ORDER BY lang""".stripMargin))
}
