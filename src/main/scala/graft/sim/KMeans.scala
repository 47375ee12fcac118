package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.Tables._
import graft.functions.VectorExpressions

/** Spherical k-means over the `embeddings` table, and the
  * cluster-then-dedup ("semantic dedup") curation stage built on it —
  * the standard recipe for pruning semantically redundant training
  * documents (cluster by embedding, compare pairs only within a
  * cluster; cf. Abbas et al., "SemDeDup", arXiv:2303.09540).
  *
  * Reference scope: the reference engine has no clustering operator —
  * this is part of the brief's training-data-pipeline extension layer,
  * same family as [[Similarity]]'s ANN paths (s2/s4).
  *
  * Scale shape (100 TB):
  *   - Assignment is a broadcast nested-loop over the centroid set (k
  *     rows) — the corpus NEVER shuffles to be assigned. k ~ sqrt(n) or
  *     n/target_cluster_size keeps the broadcast tiny (k·d doubles).
  *   - The Lloyd update is one explode → hash-aggregate: (cluster, dim)
  *     keyed partial sums, k·d result rows. Map-side partial
  *     aggregation means the exchange carries ≤ k·d rows per task, not
  *     the corpus.
  *   - **Deterministic reduction**: centroid sums accumulate in FIXED
  *     POINT — each component floors to µ-units (×10⁶) as int64 before
  *     summing. Integer addition is order-independent, so the recomputed
  *     centroid is bit-identical across partitionings, speculative
  *     re-execution, AND engines (a raw double sum is none of those —
  *     at 1000 executors a retried partial would silently move
  *     centroids between attempts). Floor (not round) because the
  *     engines' round() HALF-tie modes differ.
  *   - SemDeDup's pairwise stage is quadratic ONLY within a cluster:
  *     the equi-join on cluster id bounds it at Σ|c|², tuned by k —
  *     never an n² corpus cross join.
  *
  * Cross-engine determinism: assignment compares exact doubles from the
  * same sequential fold on both sides ([[Similarity.dotSql]] /
  * [[Similarity.dotDuck]]); ties break on cluster id. The µ-unit sums
  * are ≤ 10⁶·|cluster| ≪ 2⁵³, exact in the final double division.
  */
object KMeans {

  /** Every `step`-th vector seeds a cluster — deterministic, no RNG
    * state to ship or reproduce (KMeans++ at scale would sample with a
    * fixed-seed content-keyed coin; the plan is identical).
    */
  private val Step = 50

  private def centroids0(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(col("vec_id") % Step === 0)
      .select(col("vec_id").as("cluster"), col("embedding").as("cv"))

  /** Nearest-centroid assignment by cosine (spherical k-means — the
    * metric embedding-dedup uses): broadcast the k-row centroid frame,
    * argmax exact-double cosine, cluster-id tiebreak.
    *
    * The argmax is a partial-aggregable `min_by` on the lexicographic
    * (−cos, cluster) key, NOT a row_number window: the k scored rows
    * per vector collapse to one in the map task that produced them (the
    * o7 pattern), so the exchange carries n rows — a window form would
    * shuffle the whole n·k scored stream first. Negation is exact in
    * IEEE doubles, so min_by picks exactly row_number's
    * (cos DESC, cluster ASC) winner — for finite cosines; NaN
    * placement differs (see the [[kMeans]] nonzero-norm precondition).
    */
  private[graft] def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents))
      .withColumn("cos_c", expr(Similarity.cosSql("embedding", "cv")))
      .groupBy("vec_id")
      .agg(min_by(
        struct(col("cluster"), col("embedding"), col("cos_c")),
        struct((-col("cos_c")).as("nc"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cluster").as("cluster"), col("best.cos_c").as("cos_c"))

  /** One Lloyd update: dim-wise fixed-point mean of each cluster's
    * members, rebuilt into an ordered array. `collect_list` is
    * unordered — the (dim, cval) structs are array_sort'ed before the
    * values are extracted, so the rebuilt centroid is deterministic.
    */
  private[graft] def updateCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("fx", expr(
        "CAST(FLOOR(CAST(v AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
      .groupBy("cluster", "dim")
      .agg(sum("fx").as("sfx"), count(lit(1)).as("n"))
      .withColumn("cval", expr(
        "CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE)"))
      .groupBy("cluster")
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, cval))), x -> x.cval)")
        .as("cv"))

  /** General API: `iters` Lloyd iterations; returns
    * (vec_id, cluster, cos_c) of the final assignment. Empty clusters
    * simply disappear (both engines agree). The oracle-checked query
    * form pins iters = 1.
    *
    * `materialize` truncates lineage once per iteration on the (tiny)
    * centroid frame — without it each round nests the full previous
    * plan and every action recomputes all rounds (the
    * [[graft.text.Dedup.connectedComponents]] contract; pass
    * `_.checkpoint()` for executor-loss durability on long runs).
    *
    * Precondition: embeddings (and the means they induce) must have
    * nonzero norm — a zero-norm side makes the cosine NaN, and NaN
    * placement differs between this argmin and a SQL
    * `ORDER BY cos DESC` (NaN sorts greatest in both engines, so DESC
    * ranks it first where min_by ranks it last).
    */
  def kMeans(s: SparkSession, d: String, iters: Int = 1,
      materialize: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val e = embeddings(s, d)
    var cents = centroids0(s, d)
    var assigned = assign(e, cents)
    (0 until iters).foreach { _ =>
      cents = materialize(updateCentroids(assigned))
      assigned = assign(e, cents)
    }
    assigned
  }

  /** Mean assignment cosine (spherical k-means' objective, higher is
    * better) — the convergence measure the iteration test pins.
    */
  def inertia(assigned: DataFrame): Double =
    assigned.agg(avg("cos_c")).head().getDouble(0)

  /** Memoized per-(session, tier) 1-iteration assignment — the
    * coAdj/lpaStates lifecycle (r18): s5 and s6 each re-ran the same
    * deterministic seed→assign→re-center→re-assign chain per
    * invocation, and s6 additionally consumed the LAZY final
    * assignment twice (both sides of its cluster self-join),
    * re-evaluating it. A hit is bit-identical (deterministic seeds,
    * fixed-point integer means — KMeansSpec); staleness re-derives
    * via the whole-tier-dir signature.
    */
  private val assignMemo = new graft.lake.SessionMemo.Checkpointed
  private[graft] def assignedCached(s: SparkSession, d: String): DataFrame =
    assignMemo(s, d)(kMeans(s, d, iters = 1))

  /** s5: one Lloyd update (seed → assign → fixed-point re-center →
    * re-assign), the full iterative machinery in oracle-checkable form.
    */
  def s5KmeansAssign(s: SparkSession, d: String): DataFrame =
    assignedCached(s, d)
      .select(col("vec_id"), col("cluster"),
        round(col("cos_c"), 4).as("cos"))
      .orderBy("vec_id")

  /** s6: SemDeDup — within-cluster pairwise cosine over the s5
    * clustering, pairs ≥ threshold reported (a < b, lowest id is the
    * keep-policy survivor). Threshold 0.30 is calibrated to this
    * synthetic corpus (near-orthogonal; max pair cos ≈ 0.5); real
    * embedding spaces run ~0.95+ on the SAME plan.
    */
  def s6Semdedup(s: SparkSession, d: String): DataFrame =
    semdedupPairs(s, d, minCosine = 0.30)

  /** The s6 pair pipeline at a caller-chosen threshold (the threshold
    * reaches the pair FILTER itself — see [[dropSemanticDuplicates]]).
    */
  def semdedupPairs(s: SparkSession, d: String,
      minCosine: Double): DataFrame = {
    val a = assignedCached(s, d)
      .select(col("vec_id"), col("cluster"))
    // id-only pairs meet in the cluster equi-join; embeddings join back
    // for scoring (same shape as s2/s3 — arrays never ride the
    // candidate shuffle)
    val pairs = a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.cluster").as("cluster"),
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    val e = Similarity.normedEmbeddings(s, d)
    pairs
      .join(e.as("ea"), col("vec_a") === col("ea.vec_id"))
      .join(e.as("eb"), col("vec_b") === col("eb.vec_id"))
      .withColumn("cos", round(
        expr(Similarity.dotSql("ea.embedding", "eb.embedding")) /
          (col("ea.nrm") * col("eb.nrm")), 4))
      .filter(col("cos") >= minCosine)
      .select(col("cluster"), col("vec_a"), col("vec_b"), col("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Corpus API (mirrors [[Similarity.dropEmbeddingNearDuplicates]]):
    * drop the higher-id member of every within-cluster pair ≥ the
    * threshold.
    */
  def dropSemanticDuplicates(s: SparkSession, d: String,
      minCosine: Double = 0.30): DataFrame = {
    val losers = semdedupPairs(s, d, minCosine)
      .select(col("vec_b").as("vec_id")).distinct()
    embeddings(s, d).join(losers, Seq("vec_id"), "left_anti")
  }

  /** s7: label-outlier mining ("is this example mislabeled?") — the
    * label-noise-detection stage of supervised-data curation. Each
    * label's centroid comes from the same deterministic fixed-point
    * mean as the Lloyd update; every member scores its cosine to its
    * OWN label's centroid, and the 3 least-central members per label
    * surface for review. Same scale shape as assignment: one k-row
    * broadcast, one explode→agg for centroids, and the per-label
    * bottom-3 collapses map-side via the argmin pattern generalized to
    * a window over ≤3-per-task survivors — here plain row_number, since
    * the per-label member stream arrives already collapsed to one row
    * per vector.
    */
  def s7LabelOutliers(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    labelOutliers(embeddings(s, d), k = 3)
      .select(col("label"), col("vec_id"),
        round(col("cos_c"), 4).as("cos"), col("rank"))
      .orderBy("label", "rank")
  }

  /** The k least-central members of each label
    * ((label, vec_id, cos_c, rank); see [[s7LabelOutliers]]).
    * Expects (vec_id, embedding, label).
    */
  def labelOutliers(e: DataFrame, k: Int): DataFrame = {
    VectorExpressions.ensureRegistered(e.sparkSession)
    val cents = updateCentroids(
      e.select(col("label").as("cluster"), col("embedding")))
      .select(col("cluster").as("label"), col("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(asc("cos_c"), asc("vec_id"))
    e.join(broadcast(cents), Seq("label"))
      .withColumn("cos_c", expr(Similarity.cosSql("embedding", "cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s5_kmeans_assign" -> (s5KmeansAssign _),
    "s6_semdedup"      -> (s6Semdedup _),
    "s7_label_outliers" -> (s7LabelOutliers _),
  )

  // --- DuckDB oracles --------------------------------------------------

  /** CTE chain reproducing the one-Lloyd-update assignment: the dims
    * are fixed at 64 (same corpus guard as the LSH bucket SQL).
    */
  private val assignChain: String = {
    val cosE = Similarity.cosDuck("e.embedding", "c.cv")
    s"""c0 AS (
       |  SELECT vec_id AS cluster, embedding AS cv FROM embeddings
       |  WHERE vec_id % $Step = 0
       |), a0 AS (
       |  SELECT vec_id, embedding, cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cosE DESC, c.cluster) AS rn
       |    FROM embeddings e, c0 c) WHERE rn = 1
       |), ex AS (
       |  SELECT cluster, i AS dim,
       |    CAST(FLOOR(CAST(embedding[i+1] AS DOUBLE)
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS fx
       |  FROM a0, range(64) t(i)
       |), m AS (
       |  SELECT cluster, dim,
       |    CAST(CAST(SUM(fx) AS BIGINT) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS cval
       |  FROM ex GROUP BY cluster, dim
       |), c1 AS (
       |  SELECT cluster, list(cval ORDER BY dim) AS cv FROM m GROUP BY cluster
       |), a1 AS (
       |  SELECT vec_id, cluster, cos_c FROM (
       |    SELECT e.vec_id, c.cluster, $cosE AS cos_c,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cosE DESC, c.cluster) AS rn
       |    FROM embeddings e, c1 c) WHERE rn = 1
       |)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "s5_kmeans_assign" ->
      s"""WITH $assignChain
         |SELECT vec_id, cluster, round(cos_c, 4) AS cos
         |FROM a1 ORDER BY vec_id""".stripMargin,
    "s7_label_outliers" -> {
      val cosE = Similarity.cosDuck("e.embedding", "c.cv")
      s"""WITH ex AS (
         |  SELECT label, i AS dim,
         |    CAST(FLOOR(CAST(embedding[i+1] AS DOUBLE)
         |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS fx
         |  FROM embeddings, range(64) t(i)
         |), m AS (
         |  SELECT label, dim,
         |    CAST(CAST(SUM(fx) AS BIGINT) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS cval
         |  FROM ex GROUP BY label, dim
         |), c AS (
         |  SELECT label, list(cval ORDER BY dim) AS cv FROM m GROUP BY label
         |), scored AS (
         |  SELECT e.label, e.vec_id, $cosE AS cos_c,
         |    CAST(row_number() OVER (PARTITION BY e.label
         |      ORDER BY $cosE ASC, e.vec_id) AS INTEGER) AS rank
         |  FROM embeddings e JOIN c ON e.label = c.label)
         |SELECT label, vec_id, round(cos_c, 4) AS cos, rank
         |FROM scored WHERE rank <= 3 ORDER BY label, rank""".stripMargin
    },
    "s6_semdedup" ->
      s"""WITH $assignChain, scored AS (
         |  SELECT x.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
         |    round(${Similarity.cosDuck("e1.embedding", "e2.embedding")}, 4) AS cos
         |  FROM a1 x JOIN a1 y
         |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  JOIN embeddings e1 ON x.vec_id = e1.vec_id
         |  JOIN embeddings e2 ON y.vec_id = e2.vec_id)
         |SELECT cluster, vec_a, vec_b, cos FROM scored
         |WHERE cos >= 0.30 ORDER BY vec_a, vec_b""".stripMargin,
  )
}
