package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.Tables._
import graft.functions.VectorExpressions
import graft.sim.Similarity.{dotSql, dotDuck, rankTop3}

/** Product-quantization ANN (s9) — the third standard index shape next
  * to hyperplane LSH (s2) and IVF (s4), and the one that wins when the
  * corpus no longer fits executor memory as floats: every vector is
  * compressed to [[SubSpaces]] small codes (here 4 codes of 4 bits — a
  * 256-byte float64-dim embedding becomes ~4 bytes + one stored norm),
  * and queries scan the CODES with per-query lookup tables (ADC,
  * asymmetric distance computation) instead of touching float vectors.
  *
  * Pipeline:
  *   1. codebook: 16 entries per subspace, taken from a deterministic
  *      data rule (`vec_id % 31 == 0 AND vec_id < 490` → exactly 16
  *      vectors at every test SF) so the DuckDB oracle can rebuild the
  *      SAME codebook from the table with no shipped state. At real
  *      scale the entries come from per-subspace k-means
  *      ([[KMeans.lloydOnce]] trains them — same plan shape); the rule
  *      here stands in for the trained artifact, exactly like s4's
  *      "every 25th vector" coarse quantizer.
  *   2. encode: code_j(v) = argmin_e ‖v_j − c_{j,e}‖², computed as
  *      argmin_e (‖c‖² − 2·v_j·c) — the ‖v_j‖² term is constant per
  *      (v, j) and dropped in BOTH engines. The codebook is collected
  *      on the driver (16×64 floats — a bounded constant, the s2
  *      hyperplane-literal precedent) and shipped as literals into
  *      `graft_dot`, so encoding is ONE codegen'd projection over the
  *      corpus: zero shuffle, zero join.
  *   3. ADC scan: each query precomputes a 64-entry lookup table
  *      (dot(q_j, c_{j,e}) for all j, e — again one projection over the
  *      bounded query set), the tiny LUT side broadcasts, and scoring a
  *      corpus row is FOUR array lookups + three adds — no per-pair dot
  *      products at all.
  *   4. candidate fetch: per-query top-[[Fetch]] via the typed
  *      [[graft.functions.TopKAggregator]] — map-side partial top-k, so
  *      the one shuffle of the scan carries ≤ Fetch rows per (task,
  *      query) instead of queries × corpus rows (the window form would
  *      move the whole scored set).
  *   5. exact re-rank: only the ≤ Fetch·|queries| surviving candidates
  *      join back to float vectors for exact cosine (s4's tail shape).
  *
  * Cross-engine determinism: all arithmetic is double with the same
  * sequential fold order as the DuckDB oracle (see [[Similarity]]'s
  * header); argmin ties break to the lowest entry index in both
  * engines (Spark `array_position` of `array_min` finds the FIRST
  * minimum; the oracle orders by (dist, e)); the ADC sum is the fixed
  * tree ((l0+l1)+l2)+l3 in both.
  *
  * 100 TB shape: the float corpus is read once to encode (projection
  * only) and once more for the re-rank join's candidate rows; the scan
  * itself moves ~4 bytes + norm per vector. Codebook and LUTs are
  * O(entries·dims) and O(queries·entries) — bounded by parameters, not
  * data. Scale the real thing by training entries with k-means and
  * widening codes to 8 bits; the plan is identical.
  */
object ProductQuantization {

  private val Dims = 64
  private val SubSpaces = 4
  private val SubDim = Dims / SubSpaces
  private val Entries = 16
  private val Fetch = 40

  /** Driver-collected codebook: exactly [[Entries]] vectors by the
    * deterministic rule, ordered by vec_id; entry e, subspace j is
    * `cb(e).slice(j*SubDim, (j+1)*SubDim)`. Floats widened to double
    * once here; all downstream arithmetic is double.
    */
  private def codebook(s: SparkSession, d: String): Array[Array[Double]] = {
    val rows = embeddings(s, d)
      .filter(col("vec_id") % 31 === 0 && col("vec_id") < 490)
      .orderBy("vec_id")
      .select("embedding")
      .collect() // bounded: Entries rows (a parameter, not data size)
    require(rows.length == Entries,
      s"pq codebook rule yielded ${rows.length} entries, want $Entries")
    // element-type-agnostic: the upstream writer may ship float[] or
    // double[] (the events.ts encoding-lottery class); graft_dot
    // dispatches on the scanned type, and this collect must too
    val cb = rows.map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(cb.forall(_.length == Dims),
      s"pq codebook expects $Dims-dim embeddings")
    cb
  }

  private def subSql(c: String, j: Int): String =
    s"slice($c, ${j * SubDim + 1}, $SubDim)"

  private def entryLit(cb: Array[Array[Double]], e: Int, j: Int): String =
    cb(e).slice(j * SubDim, (j + 1) * SubDim)
      .map(v => s"${v}D").mkString("array(", ", ", ")")

  /** ‖c_{j,e}‖² as the same sequential fold the engines use. */
  private def cc(cb: Array[Array[Double]], e: Int, j: Int): Double =
    cb(e).slice(j * SubDim, (j + 1) * SubDim)
      .foldLeft(0.0)((a, v) => a + v * v)

  /** (vec_id, codes array<int>, nrm) — the compressed index; one
    * projection, no shuffle.
    */
  private[graft] def encoded(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val cb = codebook(s, d)
    // the per-vector SubSpaces×Entries distance fold is a multiplying
    // kernel in the scan stage — spread a narrow (single-split) tier
    // across the cores first (r18, [[graft.ops.Spread]]); identity at
    // scale where the embedding scan has many splits
    val withDists = (0 until SubSpaces).foldLeft(
      graft.ops.Spread.ifNarrow(
        Similarity.normedEmbeddings(s, d), col("vec_id"))) { (df, j) =>
      val dists = (0 until Entries).map { e =>
        s"(${cc(cb, e, j)}D - 2D * graft_dot(${subSql("embedding", j)}, ${entryLit(cb, e, j)}))"
      }.mkString("array(", ", ", ")")
      df.withColumn(s"d$j", expr(dists))
    }
    val codes = (0 until SubSpaces)
      .map(j => s"cast(array_position(d$j, array_min(d$j)) - 1 as int)")
      .mkString("array(", ", ", ")")
    withDists
      .withColumn("codes", expr(codes))
      .select(col("vec_id"), col("codes"), col("nrm"))
  }

  /** (q_id, lut array<double>[SubSpaces*Entries], q_nrm) for the
    * bounded query set — LUT index j*Entries + e.
    */
  private def luts(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val cb = codebook(s, d)
    val lut = (for (j <- 0 until SubSpaces; e <- 0 until Entries)
      yield s"graft_dot(${subSql("embedding", j)}, ${entryLit(cb, e, j)})")
      .mkString("array(", ", ", ")")
    embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        expr(lut).as("lut"),
        expr(s"sqrt(${dotSql("embedding", "embedding")})").as("q_nrm"))
  }

  /** s9: PQ-ADC approximate top-3 with exact re-rank for the bounded
    * query set (vec_id < 10).
    */
  def s9PqTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val adc = (0 until SubSpaces)
      .map(j => s"element_at(lut, ${j * Entries} + element_at(codes, ${j + 1}) + 1)")
      .reduce((a, b) => s"($a + $b)")
    val scored = luts(s, d).hint("broadcast")
      .crossJoin(encoded(s, d))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_approx", expr(adc) / (col("q_nrm") * col("nrm")))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_approx"))
    val topk = new graft.functions.TopKAggregator(Fetch).toColumn
    val cand = scored
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, nId, cos) => (cos, nId) }
      .agg(topk.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), explode(col("top._2")).as("n_id"))
    val e = Similarity.normedEmbeddings(s, d)
    rankTop3(cand
      .join(e.as("eq"), col("q_id") === col("eq.vec_id"))
      .join(e.as("en"), col("n_id") === col("en.vec_id"))
      .withColumn("cos_exact",
        expr(dotSql("eq.embedding", "en.embedding")) /
          (col("eq.nrm") * col("en.nrm")))
      .select(col("q_id"), col("n_id"), col("cos_exact")))
  }

  /** s13: IVF-PQ — the FAISS-standard COMBINED index (coarse inverted
    * lists + product-quantized residuals), completing the family next
    * to s2 (LSH), s4 (IVF), s9 (flat PQ) and the int8 index: at 100 TB
    * the coarse quantizer prunes which lists a query touches AND the
    * codes keep the scanned bytes at ~4/vector, so the scan cost is
    * `nprobe/nlists` of s9's full-corpus ADC.
    *
    * Pipeline (each stage the proven shape from s4/s9):
    *   1. coarse assign: s4's every-25th-vector centroids, exact-double
    *      argmax with cent_id tiebreak — the inverted lists.
    *   2. RESIDUAL encode: code_j(v) = argmin_e (‖c_{j,e}‖² −
    *      2·dot(r_j, c_{j,e})) with r = v − cent(v). The residual dot
    *      expands by LINEARITY — dot(r_j, c) = dot(v_j, c) −
    *      dot(cent_j, c) — so both terms stay codegen'd `graft_dot`
    *      calls on raw slices (no interpreted zip_with lambda in the
    *      encode; the r7 d10 in-array-transform lesson). Residual
    *      quantization is what makes IVFPQ beat flat PQ: residuals
    *      cluster near 0, so the same 4-bit budget spends on a much
    *      smaller ball. Codebook: the s9 deterministic data rule (the
    *      documented stand-in for per-subspace k-means on residuals —
    *      training would change the ENTRIES, not the plan).
    *   3. probe: nprobe = 2 nearest centroids per query (s4's shape).
    *   4. ADC inside probed lists only: dot(q, v) ≈ dot(q, cent) +
    *      Σ_j lut[j, code_j] by the same linearity (v ≈ cent + Σ c);
    *      LUT entries are dot(q_j, c_{j,e}) — query-GLOBAL slices, the
    *      s9 LUT — computed per (query, probe) pair rides the probe row.
    *   5. top-[[Fetch]] per query via the typed TopKAggregator
    *      (map-side partial top-k), exact float re-rank of survivors.
    *
    * Cross-engine: same argmin tiebreaks, same ((l0+l1)+l2)+l3 ADC
    * tree, `dot(q, cent)` added OUTSIDE the tree as (cq + adc); the
    * oracle replays every stage from the same parquet.
    */
  def s13IvfPqTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VectorExpressions.ensureRegistered(s)
    val cb = codebook(s, d)
    val e = embeddings(s, d)
    val cents = e.filter(col("vec_id") % Similarity.centStride(s, d) === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    import org.apache.spark.sql.expressions.Window
    // 1. coarse assignment (s4's exact-double argmax). r18 note: a
    // min_by((−cos, cent_id)) groupBy restructure (the KMeans.assign
    // shape) was tried and MEASURED WORSE here (2.23–2.30 s vs
    // 1.69–1.78 s idle sf0.1, two sessions each): the payload that
    // must ride the argmax (embedding + the winning centroid vector,
    // ~260 doubles) turns the partial aggregate into a wide
    // object-buffer SortAggregate, costlier than the window's one
    // n·k-row exchange at any tier where k is broadcast-small. Kept
    // the window form — measurement decides (guide §1.1).
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(desc("cos_c"), asc("cent_id"))
    val assigned = e.join(broadcast(cents))
      .withColumn("cos_c", expr(Similarity.cosSql("embedding", "cv")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id"), col("cv"),
        expr(s"sqrt(${dotSql("embedding", "embedding")})").as("nrm"))
    // 2. residual encode via linearity: both dots codegen'd on raw slices.
    // The SubSpaces×Entries fold sits behind the window's vec_id
    // exchange, which AQE re-coalesces at narrow tiers (r18
    // stage profile: a single 0.7 s encode task) — spread it on the
    // scan-side witness (identity at scale)
    val withDists = (0 until SubSpaces).foldLeft(
      graft.ops.Spread.ifNarrowInput(e, assigned, col("vec_id"))) { (df, j) =>
      val dists = (0 until Entries).map { e0 =>
        s"(${cc(cb, e0, j)}D - 2D * (graft_dot(${subSql("embedding", j)}, ${entryLit(cb, e0, j)})" +
          s" - graft_dot(${subSql("cv", j)}, ${entryLit(cb, e0, j)})))"
      }.mkString("array(", ", ", ")")
      df.withColumn(s"d$j", expr(dists))
    }
    val codesArr = (0 until SubSpaces)
      .map(j => s"cast(array_position(d$j, array_min(d$j)) - 1 as int)")
      .mkString("array(", ", ", ")")
    val lists = withDists
      .withColumn("codes", expr(codesArr))
      .select(col("vec_id").as("n_id"), col("cent_id"), col("codes"),
        col("nrm"))
    // 3. probes: nprobe=2 nearest centroids per query; LUT + dot(q, cent)
    // ride each probe row
    val wProbe = Window.partitionBy("q_id")
      .orderBy(desc("cos_c"), asc("cent_id"))
    val lutSql = (for (j <- 0 until SubSpaces; e0 <- 0 until Entries)
      yield s"graft_dot(${subSql("qv", j)}, ${entryLit(cb, e0, j)})")
      .mkString("array(", ", ", ")")
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .join(broadcast(cents))
      .withColumn("cos_c", expr(Similarity.cosSql("qv", "cv")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select(col("q_id"), col("cent_id"),
        expr(lutSql).as("lut"),
        expr(s"graft_dot(qv, cv)").as("cq"),
        expr(s"sqrt(${dotSql("qv", "qv")})").as("q_nrm"))
    // 4. ADC scan of the probed lists only
    val adc = (0 until SubSpaces)
      .map(j => s"element_at(lut, ${j * Entries} + element_at(codes, ${j + 1}) + 1)")
      .reduce((a, b) => s"($a + $b)")
    val scored = probes.hint("broadcast").join(lists, Seq("cent_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos_approx",
        (col("cq") + expr(adc)) / (col("q_nrm") * col("nrm")))
      .select(col("q_id"), col("n_id"), col("cos_approx"))
    // 5. fetch + exact re-rank (s9's tail)
    val topk = new graft.functions.TopKAggregator(Fetch).toColumn
    val cand = scored
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, nId, cos) => (cos, nId) }
      .agg(topk.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), explode(col("top._2")).as("n_id"))
    val ne = Similarity.normedEmbeddings(s, d)
    rankTop3(cand
      .join(ne.as("eq"), col("q_id") === col("eq.vec_id"))
      .join(ne.as("en"), col("n_id") === col("en.vec_id"))
      .withColumn("cos_exact",
        expr(dotSql("eq.embedding", "en.embedding")) /
          (col("eq.nrm") * col("en.nrm")))
      .select(col("q_id"), col("n_id"), col("cos_exact")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s9_pq_topk" -> (s9PqTopk _),
    "s13_ivfpq_topk" -> (s13IvfPqTopk _)
  )

  /** DuckDB replication of the whole pipeline — codebook from the same
    * data rule, same dropped-constant argmin, same ADC sum tree, same
    * re-rank (the s4-oracle pattern: the oracle reproduces the
    * approximate algorithm, not the exact answer).
    */
  def oracles: Map[String, String] = {
    def sub(c: String, j: String) =
      s"list_slice($c, $j*$SubDim + 1, $j*$SubDim + $SubDim)"
    Map(
      "s13_ivfpq_topk" ->
        s"""WITH cb AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS e,
           |         embedding AS cv
           |  FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 490
           |), cents AS (
           |  SELECT vec_id AS cent_id, embedding AS ccv
           |  FROM embeddings,
           |    (SELECT GREATEST(25, count(*) // 20) AS st FROM embeddings) p
           |  WHERE vec_id % p.st = 0
           |), nrm AS (
           |  SELECT vec_id, sqrt(${dotDuck("embedding", "embedding")}) AS nrm
           |  FROM embeddings
           |), assign AS (
           |  SELECT vec_id, cent_id, ccv FROM (
           |    SELECT v.vec_id, c.cent_id, c.ccv,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |        (${dotDuck("v.embedding", "c.ccv")}
           |          / (sqrt(${dotDuck("v.embedding", "v.embedding")})
           |             * sqrt(${dotDuck("c.ccv", "c.ccv")}))) DESC,
           |        c.cent_id) AS rn
           |    FROM embeddings v, cents c)
           |  WHERE rn = 1
           |), dists AS (
           |  SELECT v.vec_id, j.j, c.e,
           |    (${dotDuck(sub("c.cv", "j.j"), sub("c.cv", "j.j"))}
           |      - 2 * (${dotDuck(sub("v.embedding", "j.j"), sub("c.cv", "j.j"))}
           |             - ${dotDuck(sub("a.ccv", "j.j"), sub("c.cv", "j.j"))})) AS dist
           |  FROM embeddings v
           |  JOIN assign a ON v.vec_id = a.vec_id,
           |  range($SubSpaces) j(j), cb c
           |), codes AS (
           |  SELECT vec_id, j, e FROM (
           |    SELECT vec_id, j, e,
           |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, e) AS rn
           |    FROM dists)
           |  WHERE rn = 1
           |), codesw AS (
           |  SELECT c.vec_id, a.cent_id,
           |    MAX(CASE WHEN j = 0 THEN e END) AS e0,
           |    MAX(CASE WHEN j = 1 THEN e END) AS e1,
           |    MAX(CASE WHEN j = 2 THEN e END) AS e2,
           |    MAX(CASE WHEN j = 3 THEN e END) AS e3
           |  FROM codes c JOIN assign a ON c.vec_id = a.vec_id
           |  GROUP BY c.vec_id, a.cent_id
           |), probes AS (
           |  SELECT q_id, cent_id, cq FROM (
           |    SELECT q.vec_id AS q_id, c.cent_id,
           |      ${dotDuck("q.embedding", "c.ccv")} AS cq,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        (${dotDuck("q.embedding", "c.ccv")}
           |          / (sqrt(${dotDuck("q.embedding", "q.embedding")})
           |             * sqrt(${dotDuck("c.ccv", "c.ccv")}))) DESC,
           |        c.cent_id) AS rn
           |    FROM embeddings q, cents c WHERE q.vec_id < 10)
           |  WHERE rn <= 2
           |), lut AS (
           |  SELECT q.vec_id AS q_id, j.j, c.e,
           |    ${dotDuck(sub("q.embedding", "j.j"), sub("c.cv", "j.j"))} AS lv
           |  FROM embeddings q, range($SubSpaces) j(j), cb c
           |  WHERE q.vec_id < 10
           |), cand AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT p.q_id, n.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY p.q_id ORDER BY
           |        ((p.cq + (((l0.lv + l1.lv) + l2.lv) + l3.lv))
           |          / (qn.nrm * nn.nrm)) DESC, n.vec_id) AS rn
           |    FROM probes p
           |    JOIN codesw n ON n.cent_id = p.cent_id
           |    JOIN lut l0 ON l0.j = 0 AND l0.e = n.e0 AND l0.q_id = p.q_id
           |    JOIN lut l1 ON l1.j = 1 AND l1.e = n.e1 AND l1.q_id = p.q_id
           |    JOIN lut l2 ON l2.j = 2 AND l2.e = n.e2 AND l2.q_id = p.q_id
           |    JOIN lut l3 ON l3.j = 3 AND l3.e = n.e3 AND l3.q_id = p.q_id
           |    JOIN nrm qn ON qn.vec_id = p.q_id
           |    JOIN nrm nn ON nn.vec_id = n.vec_id
           |    WHERE p.q_id <> n.vec_id)
           |  WHERE rn <= $Fetch
           |), ranked AS (
           |  SELECT q_id, n_id, cos_exact,
           |    CAST(row_number() OVER (PARTITION BY q_id
           |      ORDER BY cos_exact DESC, n_id) AS INTEGER) AS rank
           |  FROM (
           |    SELECT c.q_id, c.n_id,
           |      ${dotDuck("e1.embedding", "e2.embedding")}
           |        / (n1.nrm * n2.nrm) AS cos_exact
           |    FROM cand c
           |    JOIN embeddings e1 ON c.q_id = e1.vec_id
           |    JOIN embeddings e2 ON c.n_id = e2.vec_id
           |    JOIN nrm n1 ON c.q_id = n1.vec_id
           |    JOIN nrm n2 ON c.n_id = n2.vec_id))
           |SELECT q_id, n_id, round(cos_exact, 4) AS cos, rank
           |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
      "s9_pq_topk" ->
        s"""WITH cb AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS e,
           |         embedding AS cv
           |  FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 490
           |), dists AS (
           |  SELECT v.vec_id, j.j, c.e,
           |    (${dotDuck(sub("c.cv", "j.j"), sub("c.cv", "j.j"))}
           |      - 2 * ${dotDuck(sub("v.embedding", "j.j"), sub("c.cv", "j.j"))}) AS dist
           |  FROM embeddings v, range($SubSpaces) j(j), cb c
           |), codes AS (
           |  SELECT vec_id, j, e FROM (
           |    SELECT vec_id, j, e,
           |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, e) AS rn
           |    FROM dists)
           |  WHERE rn = 1
           |), codesw AS (
           |  SELECT vec_id,
           |    MAX(CASE WHEN j = 0 THEN e END) AS e0,
           |    MAX(CASE WHEN j = 1 THEN e END) AS e1,
           |    MAX(CASE WHEN j = 2 THEN e END) AS e2,
           |    MAX(CASE WHEN j = 3 THEN e END) AS e3
           |  FROM codes GROUP BY vec_id
           |), nrm AS (
           |  SELECT vec_id, sqrt(${dotDuck("embedding", "embedding")}) AS nrm
           |  FROM embeddings
           |), lut AS (
           |  SELECT q.vec_id AS q_id, j.j, c.e,
           |    ${dotDuck(sub("q.embedding", "j.j"), sub("c.cv", "j.j"))} AS lv
           |  FROM embeddings q, range($SubSpaces) j(j), cb c
           |  WHERE q.vec_id < 10
           |), cand AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT l0.q_id, n.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY l0.q_id ORDER BY
           |        ((((l0.lv + l1.lv) + l2.lv) + l3.lv)
           |          / (qn.nrm * nn.nrm)) DESC, n.vec_id) AS rn
           |    FROM codesw n
           |    JOIN lut l0 ON l0.j = 0 AND l0.e = n.e0
           |    JOIN lut l1 ON l1.j = 1 AND l1.e = n.e1 AND l1.q_id = l0.q_id
           |    JOIN lut l2 ON l2.j = 2 AND l2.e = n.e2 AND l2.q_id = l0.q_id
           |    JOIN lut l3 ON l3.j = 3 AND l3.e = n.e3 AND l3.q_id = l0.q_id
           |    JOIN nrm qn ON qn.vec_id = l0.q_id
           |    JOIN nrm nn ON nn.vec_id = n.vec_id
           |    WHERE l0.q_id <> n.vec_id)
           |  WHERE rn <= $Fetch
           |), ranked AS (
           |  SELECT q_id, n_id, cos_exact,
           |    CAST(row_number() OVER (PARTITION BY q_id
           |      ORDER BY cos_exact DESC, n_id) AS INTEGER) AS rank
           |  FROM (
           |    SELECT c.q_id, c.n_id,
           |      ${dotDuck("e1.embedding", "e2.embedding")}
           |        / (n1.nrm * n2.nrm) AS cos_exact
           |    FROM cand c
           |    JOIN embeddings e1 ON c.q_id = e1.vec_id
           |    JOIN embeddings e2 ON c.n_id = e2.vec_id
           |    JOIN nrm n1 ON c.q_id = n1.vec_id
           |    JOIN nrm n2 ON c.n_id = n2.vec_id))
           |SELECT q_id, n_id, round(cos_exact, 4) AS cos, rank
           |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
    )
  }
}
