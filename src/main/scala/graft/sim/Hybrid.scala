package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.lake.Tables._
import graft.functions.VectorExpressions

/** Hybrid retrieval: reciprocal-rank fusion (RRF; Cormack, Clarke &
  * Büttcher, SIGIR 2009) of a LEXICAL ranking (3-gram-shingle Jaccard
  * over `documents`) and a VECTOR ranking (exact cosine over
  * `embeddings`) — the standard two-tower retrieval composition a
  * curation pipeline uses to mine related/hard examples: rank fusion
  * needs no score calibration between modalities, only ranks.
  * Testdata contract: `vec_id` is the embedding of the same-id
  * `doc_id`.
  *
  * Scale shape: each modality is a bounded-query-set scan (broadcast
  * nested loop over the 10-row query side — linear in the corpus, no
  * corpus shuffle), collapsed to ≤ `TopIn` id+rank rows per query
  * before the fusion full-outer join, which therefore touches only
  * O(queries · TopIn) rows. At real scale either ranker swaps for its
  * index-backed form (s2's LSH / a BM25 index) without changing the
  * fusion.
  *
  * Determinism: ranks are integers; the RRF score 1/(60+r_lex) +
  * 1/(60+r_vec) is two IEEE divisions and one add in a fixed order —
  * bit-identical cross-engine, so ordering (tie-broken on n_id) and the
  * floored fixed-point output agree exactly.
  */
object Hybrid {

  private val K = 60      // the standard RRF damping constant
  private val TopIn = 20  // per-modality candidate depth
  private val TopOut = 5

  def s8HybridRrf(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    // vector ranks: top-20 by exact cosine per query vector
    // both corpus-side rankers run their per-row scoring kernel
    // (exact cosine / shingle intersect) in the scan stage behind a
    // broadcast join — spread narrow tiers across the cores first
    // (r18, [[graft.ops.Spread]]; stage profile: the whole lexical
    // ranker in ONE 0.75 s task at sf0.1); identity at scale
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = graft.ops.Spread.ifNarrow(e, col("vec_id"))
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val wV = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    val vec = broadcast(q).join(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", expr(Similarity.cosSql("qv", "nv")))
      .withColumn("vr", row_number().over(wV))
      .filter(col("vr") <= TopIn)
      .select("q_id", "n_id", "vr")
    // lexical ranks: top-20 by exact 3-gram Jaccard per query doc
    val sh = graft.text.Dedup.shingledDf(
        graft.ops.Spread.ifNarrow(documents(s, d), col("doc_id")))
      .select(col("doc_id"), col("sh"))
    val qs = sh.filter(col("doc_id") < 10)
      .select(col("doc_id").as("q_id"), col("sh").as("qsh"))
    val cs = sh.select(col("doc_id").as("n_id"), col("sh").as("nsh"))
    val wL = Window.partitionBy("q_id").orderBy(desc("jac"), asc("n_id"))
    val lex = broadcast(qs).join(cs)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("inter", size(array_intersect(col("qsh"), col("nsh"))))
      .withColumn("jac",
        col("inter").cast("double") /
          (size(col("qsh")) + size(col("nsh")) - col("inter")))
      .withColumn("lr", row_number().over(wL))
      .filter(col("lr") <= TopIn)
      .select("q_id", "n_id", "lr")
    // fusion: a doc missing from one list contributes 0 from it
    val wF = Window.partitionBy("q_id").orderBy(desc("rrf"), asc("n_id"))
    lex.join(vec, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf", expr(
        s"""COALESCE(CAST(1 AS DOUBLE) / CAST($K + lr AS DOUBLE), CAST(0 AS DOUBLE))
           | + COALESCE(CAST(1 AS DOUBLE) / CAST($K + vr AS DOUBLE), CAST(0 AS DOUBLE))"""
          .stripMargin.replace("\n", "")))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= TopOut)
      .select(col("q_id"), col("n_id"),
        expr("CAST(FLOOR(rrf * CAST(100000000 AS DOUBLE)) AS BIGINT)")
          .as("rrf_fp"),
        col("rank"))
      .orderBy("q_id", "rank")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s8_hybrid_rrf" -> (s8HybridRrf _),
  )

  def oracles: Map[String, String] = Map(
    "s8_hybrid_rrf" -> {
      val cos = Similarity.cosDuck("q.qv", "e.embedding")
      s"""WITH ${graft.text.Dedup.shingledDuckFrom("documents")},
         |qv AS (
         |  SELECT vec_id AS q_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 10
         |), vec AS (
         |  SELECT q_id, n_id, vr FROM (
         |    SELECT q.q_id, e.vec_id AS n_id,
         |      CAST(row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY $cos DESC, e.vec_id) AS INTEGER) AS vr
         |    FROM qv q, embeddings e WHERE q.q_id <> e.vec_id)
         |  WHERE vr <= $TopIn
         |), lex AS (
         |  SELECT q_id, n_id, lr FROM (
         |    SELECT a.doc_id AS q_id, b.doc_id AS n_id,
         |      CAST(row_number() OVER (PARTITION BY a.doc_id ORDER BY
         |        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |          DESC, b.doc_id) AS INTEGER) AS lr
         |    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         |    WHERE a.doc_id < 10)
         |  WHERE lr <= $TopIn
         |), fused AS (
         |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |    COALESCE(l.n_id, v.n_id) AS n_id,
         |    COALESCE(CAST(1 AS DOUBLE) / CAST($K + l.lr AS DOUBLE), CAST(0 AS DOUBLE))
         |      + COALESCE(CAST(1 AS DOUBLE) / CAST($K + v.vr AS DOUBLE), CAST(0 AS DOUBLE)) AS rrf
         |  FROM lex l FULL OUTER JOIN vec v
         |    ON l.q_id = v.q_id AND l.n_id = v.n_id)
         |SELECT q_id, n_id, rrf_fp, rank FROM (
         |  SELECT q_id, n_id,
         |    CAST(FLOOR(rrf * CAST(100000000 AS DOUBLE)) AS BIGINT) AS rrf_fp,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY rrf DESC, n_id) AS INTEGER) AS rank
         |  FROM fused)
         |WHERE rank <= $TopOut ORDER BY q_id, rank""".stripMargin
    },
  )
}
