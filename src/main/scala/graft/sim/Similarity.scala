package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.lake.Tables._
import graft.functions.{Hashing, VectorExpressions}

/** Similarity search over the `embeddings` table
  * (vec_id, embedding: array<float>, label) — the brief's ANN extension.
  *
  * Cross-engine determinism: every floating-point reduction is a
  * SEQUENTIAL left fold over the array (Spark `aggregate`, DuckDB
  * `list_reduce`), with every element cast to double BEFORE arithmetic.
  * Same operand order + same widths ⇒ bit-identical doubles in both
  * engines, so ranking (which compares exact doubles) agrees and the
  * rounded cosine in the output hashes identically.
  *
  * Scale notes (100 TB):
  *   - s1 is the exact baseline: the query side is a small bounded set,
  *     so the "cross" join is a broadcast nested loop over 10 rows —
  *     linear in the corpus, embarrassingly parallel, no shuffle of the
  *     big side.
  *   - s2 is the scale path: multi-table random-hyperplane LSH assigns
  *     every vector one bucket per hash table in a narrow projection;
  *     candidates meet in a (table, bucket) equi-join — never an n²
  *     crossJoin. Bits per table size the buckets and GROW with the
  *     corpus ([[bitsFor]]: one bit per doubling keeps occupancy, and
  *     so candidate volume per row, constant); table count buys recall.
  *   - s4 is the IVF alternative: broadcast coarse quantizer, inverted
  *     lists, probe-limited exact scoring.
  */
object Similarity {

  /** Dot product via the native [[graft.functions.DotProduct]]
    * expression (`graft_dot`): a doGenCode loop with the same
    * sequential summation order as DuckDB's list_reduce, staying inside
    * whole-stage codegen at any dimensionality (an unrolled chain
    * overflows janino's method limit at 8×64 terms; a higher-order
    * `aggregate` is interpreted).
    */
  private[sim] def dotSql(a: String, b: String): String =
    s"graft_dot($a, $b)"

  private def normSql(a: String): String =
    s"sqrt(${dotSql(a, a)})"

  /** Exact cosine between two embedding columns. */
  private[sim] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  /** s1: brute-force exact top-5 cosine neighbors for a bounded query
    * set (vec_id < 10) against the whole corpus.
    */
  def s1CosineTopk(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val scored = q.crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos_exact", expr(cosSql("qv", "nv")))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"),
        round(col("cos_exact"), 4).as("cos"),
        col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Index-backed candidate fetch for a BOUNDED query set (vec_id < 10):
    * the queries meet the corpus through the s2 LSH buckets — the 80
    * query bucket rows (10 queries × 8 tables) BROADCAST into an
    * equi-join against the corpus bucket projection, so the corpus
    * streams ONCE with no crossJoin anywhere (r6 verdict #2; the brute
    * scan survives as the recall baseline, [[s10BruteForce]]). Every
    * distinct colliding (q_id, n_id) pair is then scored with exact
    * cosine through the same per-side embedding joins as s2; the
    * candidate's vector rides along for re-rank consumers (MMR).
    *
    * Scale shape: candidate volume per query is bucket-size × tables —
    * the LSH bit-width knob (see [[bucketsSql]]) keeps buckets
    * executor-sized at corpus scale, so mining costs one index probe
    * per query, never a corpus scan per query.
    */
  private[sim] def lshScoredCandidates(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val bt = bucketTable(s, d)
    val cand = bt.as("c").join(
        broadcast(bt.filter(col("vec_id") < 10)).as("q"),
        col("q.tbl") === col("c.tbl") && col("q.bk") === col("c.bk") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"))
      .dropDuplicates("q_id", "n_id")
    val e = normedEmbeddings(s, d)
    // candidate side PINNED broadcast through both scoring joins: the
    // probe contract bounds candidates at |Q| x bucket x tables —
    // measured scale-CONSTANT (sf1: 1 244, sf10: 1 514; the bits
    // ladder's design) — while the corpus side is n-sized. Left to
    // size estimates, sf10 planned the candidate stream into SMJs that
    // shuffled the 200 k-vector corpus TWICE (108 MB for a 1.5 k-row
    // probe, s15 bexp 3.1); pinned, the corpus only streams.
    broadcast(broadcast(cand)
        .join(e.as("eq"), col("q_id") === col("eq.vec_id")))
      .join(e.as("en"), col("n_id") === col("en.vec_id"))
      .withColumn("cos_exact",
        expr(dotSql("eq.embedding", "en.embedding")) /
          (col("eq.nrm") * col("en.nrm")))
      .select(col("q_id"), col("n_id"), col("cos_exact"),
        col("en.embedding").as("nv"))
  }

  /** Top-k by exact cosine over the INDEX-fetched candidate set — the
    * ranking MMR(λ=1) must reproduce, and the subject of the
    * index-vs-brute recall floor pinned in LlmPipelineSpec.
    */
  private[graft] def lshTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    lshScoredCandidates(s, d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"),
        round(col("cos_exact"), 4).as("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** s10: hard-negative mining — for each (query, positive) training
    * pair, the top-k most-similar candidates that are NOT the positive:
    * the examples that teach an embedding model the decision boundary
    * (in-batch random negatives are trivially easy; retrieval training
    * pipelines mine these). The positive here is the deterministic
    * synthetic pairing q ↔ q+100 (the corpus ships no labeled pairs;
    * the pairing rule is the s4/s9 stand-in-artifact precedent, rebuilt
    * identically by the oracle).
    *
    * Candidates come from the LSH index ([[lshScoredCandidates]]) with
    * the positive excluded AFTER the fetch and exact re-rank on the
    * survivors — the DuckDB oracle rebuilds the identical bucket fetch,
    * so the check is exact, and the recall cost of the index (vs the
    * retired full-corpus crossJoin, kept as [[s10BruteForce]]) is
    * pinned separately as a floor in LlmPipelineSpec.
    */
  def s10HardNegatives(s: SparkSession, d: String): DataFrame = {
    val scored = lshScoredCandidates(s, d)
      .filter(col("n_id") =!= col("q_id") + 100)
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), (col("q_id") + 100).as("pos_id"), col("n_id"),
        round(col("cos_exact"), 4).as("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** The full-corpus brute form s10 replaced (exact scan per query):
    * retained as the RECALL ORACLE for the index-backed fetch, the same
    * role s1 plays for s2 — never the shape you'd run at 100 TB.
    */
  private[graft] def s10BruteForce(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val scored = q.crossJoin(c)
      .filter(col("n_id") =!= col("q_id") &&
        col("n_id") =!= col("q_id") + 100)
      .withColumn("cos_exact", expr(cosSql("qv", "nv")))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), (col("q_id") + 100).as("pos_id"), col("n_id"),
        round(col("cos_exact"), 4).as("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** MMR (maximal marginal relevance) diversified re-rank: greedily
    * pick `k` results maximizing `λ·rel − (1−λ)·max-sim-to-selected` —
    * the standard fix for a result page of near-duplicates (and for
    * diverse few-shot example selection in prompting pipelines). λ=1
    * degenerates to plain top-k (tested); lower λ trades relevance for
    * spread.
    *
    * Scale shape: candidates come from the LSH index
    * ([[lshScoredCandidates]] — no corpus crossJoin, r6 verdict #2)
    * truncated to `fetch` rows per query — the greedy selection then
    * runs inside ONE typed `flatMapGroups` over each query's BOUNDED
    * candidate set (≤ fetch rows ≈ KBs). Greedy MMR is inherently sequential
    * per query and needs candidate×candidate similarities — not
    * expressible as relational ops without k self-joins — so this is
    * the mm3-style justified escape hatch: the DISTRIBUTED work
    * (scoring the corpus) stays declarative, only the per-query
    * constant-size loop is imperative. Deterministic: candidates
    * iterate in (rel desc, id) order and score ties keep the first,
    * so re-runs and repartitionings pick identical sets (tested). No
    * DuckDB oracle — greedy argmax chains aren't SQL — the spec pins
    * invariants (λ=1 ≡ top-k; first pick = argmax relevance; diversity
    * strictly improves on at least one query) instead.
    */
  def mmrDiversify(s: SparkSession, d: String, k: Int = 5,
      lambda: Double = 0.7, fetch: Int = 20): DataFrame = {
    import s.implicits._
    VectorExpressions.ensureRegistered(s)
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    val cand = lshScoredCandidates(s, d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= fetch)
      .select(col("q_id"), col("n_id"),
        col("cos_exact").as("cos"), col("nv"))
    cand.as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
          while (i < a.length) {
            ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
          }
          ab / math.sqrt(aa * bb)
        }
        val remaining = scala.collection.mutable.ArrayBuffer(
          it.toArray.sortBy(t => (-t._3, t._2)): _*)
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double, Int)]
        val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        while (sel.length < k && remaining.nonEmpty) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          var idx = 0
          while (idx < remaining.length) {
            val t = remaining(idx)
            // textbook MMR: the penalty term is max over the SELECTED
            // set — when every similarity is negative the anti-similar
            // candidate is rewarded, not clamped to 0. The first pick
            // (empty selected set) carries no penalty by convention.
            var maxSim = if (selVecs.isEmpty) 0.0 else Double.NegativeInfinity
            selVecs.foreach { v =>
              val sim = cos(t._4, v); if (sim > maxSim) maxSim = sim
            }
            val score = lambda * t._3 - (1 - lambda) * maxSim
            // strict >: ties keep the earlier (higher-rel, lower-id) row
            if (score > bestScore) { bestScore = score; bestIdx = idx }
            idx += 1
          }
          val chosen = remaining.remove(bestIdx)
          selVecs += chosen._4
          sel += ((qid, chosen._2, chosen._3, sel.length + 1))
        }
        sel.iterator
      }
      .toDF("q_id", "n_id", "cos", "mmr_rank")
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"),
        col("mmr_rank"))
      .orderBy("q_id", "mmr_rank")
  }

  /** Embedding dimensionality of the testdata corpus. The hyperplane
    * matrix is precomputed for this width; [[bucketsSql]] guards with a
    * size check so a drifted corpus fails loudly, not wrongly.
    */
  private val Dims = 64

  /** Multi-table random-hyperplane LSH: [[Tables]] hash tables of
    * [[bitsFor]] hyperplane bits each. A pair is a candidate if it
    * collides in ANY table — for this corpus's top neighbors
    * (cos ≈ 0.5, near-orthogonal random vectors) a single 8-bit table
    * has collision probability (1−θ/π)^8 ≈ 4% and measured recall@3 of
    * 0.0; 8 tables × 4 bits gives 1−(1−p⁴)⁸ ≈ 0.8 on the best
    * neighbor. Table count/width are THE recall-vs-cost knobs of
    * hyperplane LSH; at denser similarity regimes fewer/wider tables
    * win.
    *
    * Hyperplane component (p, j) is `h32(p + "_" + j)/2^31 − 1`
    * (uniform in [-1, 1)) — derived deterministically from the portable
    * hash, so DuckDB rebuilds the SAME hyperplanes in SQL with no
    * shipped state. Spark-side the components are evaluated ONCE on the
    * driver ([[Hashing.h32Host]], bit-identical arithmetic) and shipped
    * as literal arrays into `graft_dot` (the md5-per-row SQL form cost
    * 10+ s at sf0.1; this form is sub-second, sign test bit-identical).
    */
  private val Tables = 8

  /** Bits per hash table as a function of CORPUS SIZE — the fix for the
    * r6 scale finding (SCALE_SELF.json: s2 exp 1.61, s3 exp 1.74 at
    * 10×). With a FIXED bit-width, bucket occupancy grows linearly in n
    * and within-bucket candidate pairs grow QUADRATICALLY — the 10×
    * corpus cost ~40× wall-clock. One extra bit per doubling of the
    * corpus beyond the [[BaseN]] calibration point holds expected
    * occupancy ≈ n/2^bits CONSTANT, so candidate volume (and the
    * bucket-join shuffle) scales linearly like the rest of the plan.
    *
    *   bits(n) = BaseBits + max(0, floor(log2(n / BaseN)))   (≤ MaxBits)
    *
    * Pure integer arithmetic, mirrored verbatim in the DuckDB oracle
    * (`//` + `bin()`), so both engines derive the same width from the
    * same parquet and the cross-engine gate holds at EVERY tier. The
    * per-table collision probability for a cos-θ pair is p^bits —
    * wider tables trade recall for cost, and [[Tables]] is the recall
    * knob that buys it back (1−(1−p^bits)^T); at the ~0.9-cosine regime
    * real embedding dedup targets, p ≈ 0.86 keeps 7-bit tables at ~0.96
    * recall with T = 8. Recall floors stay pinned at sf0.01 (bits = 4
    * there — the seed formula `p = t·bits + b` is unchanged where the
    * width is unchanged).
    */
  private val BaseBits = 4
  private val BaseN = 2000L // sf0.1 embeddings count: ~125 rows/bucket
  private val MaxBits = 20  // 8 M× the calibration corpus; plan-size guard

  private[graft] def bitsFor(n: Long): Int = {
    val k = n / BaseN
    val extra =
      if (k <= 1L) 0 else 63 - java.lang.Long.numberOfLeadingZeros(k)
    math.min(BaseBits + extra, MaxBits)
  }

  /** Ladder smoothing (r7 stretch): [[bitsFor]] only widens on corpus
    * DOUBLINGS, so between doublings expected occupancy — and with it
    * candidate volume — oscillates by up to 2×, which is exactly the
    * s2/s3 100× exponent wobble (1.08/1.21 measured on the bit-ladder's
    * rounding). Instead of one global width, the first `extraTablesFor`
    * of the 8 tables carry ONE extra bit: linear interpolation of the
    * fractional doubling 8·(k−2^⌊log2 k⌋)/2^⌊log2 k⌋ in pure integer
    * arithmetic, mirrored verbatim in the DuckDB params CTE. extra = 0
    * whenever k is an exact power of two — in particular at every
    * oracle-gated tier (k ≤ 1 there), where seeds and buckets are
    * bit-identical to the flat ladder.
    */
  private[graft] def extraTablesFor(n: Long): Int = {
    val k = n / BaseN
    if (k <= 1L || bitsFor(n) >= MaxBits) 0
    else {
      val p2 = java.lang.Long.highestOneBit(k)
      math.min(7L, (8L * (k - p2)) / p2).toInt
    }
  }

  /** Corpus row count, memoized per (session, corpus): one metadata-only
    * parquet count action the first time a session indexes a corpus —
    * the same "know n before sizing the hash family" step any real ANN
    * index build does.
    * Signature-keyed like [[bucketIndexCache]]: a regenerated corpus
    * re-counts (n sizes the hash family — a stale n is a stale index).
    */
  private val corpusCount = new graft.lake.SessionMemo[String, Long](_ => Nil)
  private def embeddingCount(s: SparkSession, d: String): Long = {
    val path = s"$d/embeddings.parquet"
    corpusCount(s, path, graft.lake.SessionMemo.signature(path))(
      embeddings(s, d).count())
  }

  /** IVF centroid stride — corpus-adaptive like [[bitsFor]]: every
    * `stride`-th vec_id is a coarse centroid, `max(25, n/20)` keeps
    * nlists at the ~20 of the calibration tier as the corpus grows
    * (the every-25th rule alone grows nlists LINEARLY in n, making the
    * brute nearest-centroid assignment quadratic at scale). Bit-
    * identical at every oracle tier (n ≤ 500 there ⇒ stride 25);
    * derived from the same one-count both engines share (`GREATEST(25,
    * count(*) // 20)` in the oracle CTEs — the bitsFor precedent).
    * Real deployments train a FIXED k offline (k-means); a constant
    * nlists with nprobe/nlists probe fraction is that posture.
    */
  private[sim] def centStride(s: SparkSession, d: String): Long =
    math.max(25L, embeddingCount(s, d) / 20L)

  /** array<int> of the row's bucket in each table, at `bits` width. */
  private def bucketsSql(bits: Int, extra: Int): String = {
    def dot(p: Int) = {
      val plane = (0 until Dims)
        .map(j => s"${Hashing.h32Host(s"${p}_$j") / 2147483648.0 - 1.0}D")
        .mkString("array(", ", ", ")")
      s"graft_dot(embedding, $plane)"
    }
    // table t's width and hyperplane offset under the smoothed ladder:
    // the first `extra` tables carry one more bit; offsets pack widths
    // head to tail, so with extra = 0 every seed index equals the flat
    // ladder's t*bits + b (oracle-tier bit-compatibility)
    val tables = (0 until Tables).map { t =>
      val w = bits + (if (t < extra) 1 else 0)
      val off = t * bits + math.min(t, extra)
      (0 until w)
        .map(b => s"IF(${dot(off + b)} > 0, ${1 << b}, 0)")
        .mkString("(", " + ", ")")
    }
    tables.mkString(
      "IF(size(embedding) = 64, array(", ", ",
      "), raise_error('unexpected embedding dims'))")
  }

  /** (vec_id, tbl, bk) — one row per vector per hash table, IDS ONLY:
    * carrying the embedding array through the candidate join/dedup
    * shuffles moved ~1 GB at sf0.1; candidates travel as id pairs and
    * the vectors join back for scoring — as int8 first where an exact
    * repair exists (s3's sound-bounded prefilter), floats only for
    * survivors. Self-joins must alias THIS one frame (not rename
    * columns): an extra rename projection would make the two exchange
    * subtrees canonically different and defeat ReuseExchange.
    */
  /** The LSH bucket index, computed ONCE per (session, corpus dir) and
    * persisted — every consumer (s2/s3/s9 bucket joins, the s10
    * hard-negative fetch, the s11 recall report, MMR candidates) probes
    * the SAME cached relation instead of re-deriving 8×bits hyperplane
    * dot products per query. This is the local analogue of the
    * production shape where the index is a persisted TABLE written once
    * per corpus build and probed by every retrieval query; rebuilding it
    * per query was the whole s10 bench regression adjudicated in r7
    * (#3). Entries are (vec_id, tbl, bk) ints — O(N·Tables) narrow rows,
    * MEMORY_AND_DISK so an executor-memory shortfall spills instead of
    * recomputing. Keyed by session too: a DataFrame is bound to the
    * session that analyzed it, and test suites run several. Lifecycle
    * (staleness on corpus rewrite, stopped-session retention) is owned
    * by [[graft.lake.SessionMemo]]; `ColdIndexSpec` pins it.
    */
  private[graft] val bucketIndexCache = new graft.lake.SessionMemo.Persisted
  private[graft] def bucketTable(s: SparkSession, d: String): DataFrame =
    bucketIndexCache(s, s"$d/embeddings.parquet") {
      embeddings(s, d)
        .select(col("vec_id"),
          posexplode(expr(bucketsSql(bitsFor(embeddingCount(s, d)),
              extraTablesFor(embeddingCount(s, d)))))
            .as(Seq("tbl", "bk")))
    }

  /** Append `nrm` to a (vec_id, embedding) frame — the public form of
    * [[normedEmbeddings]] for callers bringing their own frame (the
    * streaming admission path); same fold, same double. The session
    * must have graft_dot registered ([[VectorExpressions.ensureRegistered]]).
    */
  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", expr(s"sqrt(${dotSql("embedding", "embedding")})"))

  /** (vec_id, embedding, nrm) — per-vector norm computed ONCE instead
    * of twice per scored pair (same double as the per-pair form: same
    * input, same fold).
    */
  private[sim] def normedEmbeddings(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr(s"sqrt(${dotSql("embedding", "embedding")})").as("nrm"))

  /** s2: LSH-bucketed approximate top-3 neighbors for EVERY vector —
    * the shape that survives 100× scale-up (bucket equi-join; exact
    * cosine only within buckets).
    *
    * Shipped shape (r9, score-in-join): the r9 skew re-diagnosis
    * measured candidate-PAIR volume growing at the
    * uniform-occupancy model's rate (×12.3 for the ×10 sf1→sf10 step;
    * occupancy skew inflates Σc² by a roughly scale-CONSTANT ~1.4×) —
    * the recorded byte superlinearity (bexp 1.62) was NOT pair growth
    * but pair-GRAIN exchanges carrying vector payloads: once the
    * corpus outgrows the broadcast threshold, the candidate stream is
    * sort-merge-shuffled into the float index twice and drags the
    * 280-byte embedding through the second exchange. This form removes
    * every pair-grain exchange instead: the bucket index carries the
    * float payload (LINEAR bytes, n·T rows), pairs are scored INSIDE
    * the bucket self-join's output projection (same `graft_dot` fold,
    * bit-identical doubles), and [[graft.functions.DistinctTopKAggregator]]
    * collapses each map task's candidates to ≤ 3 distinct tuples per
    * query BEFORE the only pair-derived shuffle — multi-table duplicate
    * collisions dedup inside the aggregation (bit-identical scores), so
    * the `dropDuplicates` exchange disappears too. Exchanges at pair
    * grain: zero.
    *
    * NOT quantize-pruned (measured negative, r9): unlike s3's stateless
    * threshold, s2's lossless pruning needs a PER-QUERY margin —
    * [[s2ScoredPruned]] windows the directed quantized stream for
    * θ_q and joins it back, three passes over the candidate stream
    * that measured sf1→sf10 base 4.4 → 8.4 s and bytes 13.3 → 33.6 GB
    * (SCALE10TO100_S2Q.json) vs the float joins they replace. The
    * pruned form is retained with its equivalence spec as the
    * adjudicated variant.
    *
    * Output-identical to [[s2AnnLshJoined]] (spec-pinned): same dot
    * fold, same tie-break, dedup by exact-duplicate tuples only.
    */
  def s2AnnLsh(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    import s.implicits._
    val bi = floatBucketIndex(s, d)
    val a = bi.as("a")
    val c = bi.as("c").hint("shuffle_hash")
    val directed = a.join(c,
        col("a.tbl") === col("c.tbl") && col("a.bk") === col("c.bk") &&
          col("a.vec_id") < col("c.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("c.vec_id").as("id_b"),
        (expr(dotSql("a.embedding", "c.embedding")) /
          (col("a.nrm") * col("c.nrm"))).as("cos_exact"))
      .select(explode(array(
          struct(col("id_a").as("q_id"), col("id_b").as("n_id")),
          struct(col("id_b").as("q_id"), col("id_a").as("n_id"))))
        .as("p"), col("cos_exact"))
      .select(col("p.q_id"), col("cos_exact"), col("p.n_id"))
    val topk = new graft.functions.DistinctTopKAggregator(3).toColumn
    directed.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, cos, n) => (cos, n) }
      .agg(topk.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "item")))
      .select(col("q_id"), col("item._2").as("n_id"),
        round(col("item._1"), 4).as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** The r8-shipped join-then-rank form of [[s2AnnLsh]]: id-only
    * candidate pairs, `dropDuplicates`, two float-index joins, window
    * rank. Retained as the fused form's equivalence baseline — at the
    * 100× tier its pair-grain exchanges are the measured bottleneck
    * (SCALE10TO100_ANN.json bexp 1.62).
    */
  private[graft] def s2AnnLshJoined(s: SparkSession, d: String): DataFrame =
    rankTop3(s2Scored(s, d))

  /** LSH bucket rows joined with the float scoring payload
    * (vec_id, tbl, bk, embedding, nrm) — the self-join input of the
    * fused s2, cached per (session, corpus) like [[bucketTable]] and
    * persisted ALREADY HASH-PARTITIONED on (tbl, bk): InMemoryTableScan
    * preserves the cached plan's outputPartitioning, so the fused
    * self-join consumes the cache's layout directly and plans ZERO
    * exchanges on either side (PlanAuditSpec pins it) — stronger than
    * exchange reuse, which AQE declined to apply across the two
    * payload-carrying subtrees (observed: independent ShuffleQueryStages
    * over the same cache). Bytes shuffled for the index: n·T·~300 B
    * ONCE at build, linear in the corpus; pair-grain exchanges: none.
    * Production analogue: the scoring index persisted as a table
    * bucketed by (tbl, bk) at corpus-build time.
    */
  private[graft] val floatBucketIndexCache = new graft.lake.SessionMemo.Persisted
  private def floatBucketIndex(s: SparkSession, d: String): DataFrame = {
    // With a persisted table present, the session-cache BUILD becomes
    // the bucketed table scan (no hyperplane compute, no repartition —
    // InMemoryTableScan preserves the bucketed scan's partitioning, so
    // the self-join stays exchange-free): first probe reads the table
    // once, every later probe reads memory. Serving the raw scan
    // instead re-decoded the parquet on EVERY query (r10, measured at
    // the sf10 tier). No table → the from-scratch build as before.
    val path = s"$d/embeddings.parquet"
    floatBucketIndexCache(s, path) {
      graft.lake.IndexTables.serve(s, AnnTablePrefix, path).getOrElse {
        bucketTable(s, d).join(normedEmbeddings(s, d), "vec_id")
          .repartition(col("tbl"), col("bk"))
      }
    }
  }

  private val AnnTablePrefix = "annf"

  /** Disk-persisted bucketed-TABLE form of [[floatBucketIndex]] (r9
    * verdict "What's missing #1"): the session cache above dies with
    * the session and cannot exceed cluster memory — the 100 TB form is
    * this one, the scoring index written ONCE per corpus build as a
    * catalog table bucketed on (tbl, bk) (the [[graft.lake.Bucketing]]
    * pattern, g1-edges precedent). A FRESH session's fused s2/s3
    * self-join then consumes the bucket layout straight off the
    * table-backed scan — zero Exchange on either side, no rebuild, no
    * memory residency requirement (BucketedAnnIndexSpec pins the plan
    * and bit-identical outputs vs the cache-built form).
    *
    * Staleness inherits the cache's contract via the content-signature
    * stamp ([[graft.lake.IndexTables]]): a rewritten corpus makes the
    * table invisible and consumers fall back to the session-cache
    * build. Returns the catalog table name.
    */
  def persistAnnIndex(s: SparkSession, d: String, buckets: Int = 32): String = {
    VectorExpressions.ensureRegistered(s)
    graft.lake.IndexTables.persist(s,
      bucketTable(s, d).join(normedEmbeddings(s, d), "vec_id"),
      AnnTablePrefix, s"$d/embeddings.parquet", Seq("tbl", "bk"), buckets)
  }

  /** The persisted ANN index's current stamp — read BEFORE an increment
    * lands in `d`'s embeddings (the [[appendAnnIndex]] handle).
    */
  def annIndexStamp(s: SparkSession, d: String): Option[String] =
    graft.lake.IndexTables.stampOf(s, AnnTablePrefix, s"$d/embeddings.parquet")

  /** INCREMENTAL maintenance of the served ANN index (r12 verdict #2,
    * the family's most-probed artifact): after `admitted` vectors land
    * in `d`'s embeddings parquet, append exactly their
    * (vec_id, tbl, bk, embedding, nrm) rows and re-stamp — instead of
    * the signature mismatch forcing the corpus-sized rebuild.
    *
    * THE FAMILY-STEP GUARD, and why this index needs one where the
    * admission index doesn't: annf's probe queries (s2's self-join,
    * s10/s14's fetches) size their hash family from the LIVE corpus
    * count ([[bitsFor]]/[[extraTablesFor]] of `embeddingCount`), so
    * the table is only probe-compatible while the grown count lands on
    * the SAME calibration as the build. The smoothed ladder steps on
    * ~12.5% corpus growth (one more table gains a bit), at which point
    * appended rows would sit in buckets the probes never visit — a
    * silent recall hole, the worst failure mode. So the append REFUSES
    * (IllegalStateException) when the calibration stepped, and the
    * maintainer re-persists — the same decision point as re-training a
    * quantizer. Daily 0.1–1% crawls append ~dozens of times between
    * steps; the guard turns the rare step from silent recall loss into
    * an explicit rebuild.
    */
  def appendAnnIndex(s: SparkSession, d: String, admitted: DataFrame,
      prevSig: String): String = {
    VectorExpressions.ensureRegistered(s)
    val path = s"$d/embeddings.parquet"
    val nNew = embeddingCount(s, d) // post-append corpus count
    val nOld = nNew - admitted.count()
    if (bitsFor(nNew) != bitsFor(nOld) ||
        extraTablesFor(nNew) != extraTablesFor(nOld))
      throw new IllegalStateException(
        s"appendAnnIndex: hash-family calibration stepped ($nOld -> $nNew " +
          "vectors) — appended rows would be invisible to live-count " +
          "probes; re-persist the index (persistAnnIndex)")
    val rows = admitted
      .select(col("vec_id"),
        posexplode(expr(bucketsSql(bitsFor(nNew), extraTablesFor(nNew))))
          .as(Seq("tbl", "bk")))
      .join(withNorm(admitted.select("vec_id", "embedding")), "vec_id")
    graft.lake.IndexTables.appendIncrement(s, rows, AnnTablePrefix, path,
      prevSig)
  }


  /** The int8-pruned scored-candidates VARIANT (not shipped — see
    * [[s2AnnLsh]]'s adjudication): every candidate pair joins the
    * narrow [[quantizedIndex]] (~80 B/row) instead of the float
    * vectors; per query, θ_q = the 3rd-largest LOWER bound
    * (cos_q − slack) over its candidates, and only candidates whose
    * UPPER bound (cos_q + slack) reaches θ_q ship float vectors for
    * exact scoring. Lossless by order-statistic domination: lb(y) ≤
    * cos(y) pointwise ⇒ θ_q ≤ 3rd-best exact cos, and any true top-3
    * member x has cos_q(x) + slack(x) ≥ cos(x) ≥ 3rd-best ≥ θ_q — so
    * every pair at-or-above the 3rd-best exact cosine (ties included)
    * survives and [[rankTop3]]'s row_number prefix is unchanged
    * (QuantizedPrefilterSpec pins equivalence on real + planted
    * corpora). Queries with < 3 candidates keep them all (θ_q null).
    *
    * Exact re-scoring runs per DIRECTION on the survivor set —
    * `graft_dot(a,b)` and `graft_dot(b,a)` are bit-identical (same
    * index-ascending fold, per-element products commute), so values
    * match [[s2Scored]]'s score-once-explode-twice exactly.
    */
  private[graft] def s2ScoredPruned(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val qi = quantizedIndex(s, d)
    val qscored = candidatePairs(s, d)
      .join(qi.as("qa"), col("id_a") === col("qa.vec_id"))
      .join(qi.as("qb"), col("id_b") === col("qb.vec_id"))
      .select(col("id_a"), col("id_b"),
        (expr("graft_dot(qa.qvec, qb.qvec)") * col("qa.qs") * col("qb.qs") /
          (col("qa.nrm") * col("qb.nrm"))).as("cos_q"),
        cosSlack(col("qa.qs"), col("qa.nrm"),
          col("qb.qs"), col("qb.nrm")).as("slack"))
    val directed = qscored
      .select(explode(array(
          struct(col("id_a").as("q_id"), col("id_b").as("n_id")),
          struct(col("id_b").as("q_id"), col("id_a").as("n_id"))))
        .as("p"), col("cos_q"), col("slack"))
      .select(col("p.q_id"), col("p.n_id"), col("cos_q"), col("slack"),
        (col("cos_q") - col("slack")).as("lb"))
    val wLb = Window.partitionBy("q_id").orderBy(desc("lb"), asc("n_id"))
    val theta = directed
      .withColumn("rn", row_number().over(wLb))
      .filter(col("rn") === 3)
      .select(col("q_id"), col("lb").as("theta"))
    val surv = directed.join(theta, Seq("q_id"), "left")
      .filter(col("theta").isNull ||
        col("cos_q") + col("slack") >= col("theta"))
      .select("q_id", "n_id")
    val e = normedEmbeddings(s, d)
    surv
      .join(e.as("eq"), col("q_id") === col("eq.vec_id"))
      .join(e.as("en"), col("n_id") === col("en.vec_id"))
      .withColumn("cos_exact",
        expr(dotSql("eq.embedding", "en.embedding")) /
          (col("eq.nrm") * col("en.nrm")))
      .select(col("q_id"), col("n_id"), col("cos_exact"))
  }

  /** s2's ranking contract — ONE place (the equivalence baselines and
    * the PQ forms rank through the same code, so a tie-break/rounding
    * change can't silently diverge them).
    */
  private[graft] def rankTop3(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"),
        round(col("cos_exact"), 4).as("cos"),
        col("rank"))
      .orderBy("q_id", "rank")
  }

  /** (q_id, n_id, cos_exact) — every LSH candidate pair, scored
    * SYMMETRICALLY: candidates are generated as a<b pairs (half the
    * dedup volume), each pair's cosine computed ONCE, then both
    * directions emitted by an explode — cos(a,b) ≡ cos(b,a)
    * bit-for-bit (same index order in the fold), so this is
    * output-identical to scoring both directions at half the dot
    * products (measured 1.64 s vs 2.11 s at sf0.1). The input of
    * [[s2AnnLshJoined]].
    */
  private[graft] def s2Scored(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val bt = bucketTable(s, d)
    val a = bt.as("a")
    val c = bt.as("c").hint("shuffle_hash")
    val cand = a.join(c,
        col("a.tbl") === col("c.tbl") && col("a.bk") === col("c.bk") &&
          col("a.vec_id") < col("c.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("c.vec_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val e = normedEmbeddings(s, d)
    cand
      .join(e.as("ea"), col("id_a") === col("ea.vec_id"))
      .join(e.as("eb"), col("id_b") === col("eb.vec_id"))
      .withColumn("cos_exact",
        expr(dotSql("ea.embedding", "eb.embedding")) /
          (col("ea.nrm") * col("eb.nrm")))
      .select(explode(array(
          struct(col("id_a").as("q_id"), col("id_b").as("n_id")),
          struct(col("id_b").as("q_id"), col("id_a").as("n_id"))))
        .as("p"), col("cos_exact"))
      .select(col("p.q_id"), col("p.n_id"), col("cos_exact"))
  }


  /** LSH candidate id pairs (id_a < id_b), deduped across tables —
    * shared by the s2 and s3 forms.
    */
  private def candidatePairs(s: SparkSession, d: String): DataFrame = {
    val bt = bucketTable(s, d)
    val a = bt.as("a")
    val c = bt.as("c").hint("shuffle_hash") // ReuseExchange, see s2
    a.join(c,
        col("a.tbl") === col("c.tbl") && col("a.bk") === col("c.bk") &&
          col("a.vec_id") < col("c.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("c.vec_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  private def s3Candidates(s: SparkSession, d: String): DataFrame =
    candidatePairs(s, d)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))

  /** Narrow int8 scoring index: (vec_id, qvec array<tinyint>, qs, nrm) —
    * ~80 payload bytes/row vs the float index's ~280. `nrm` is the EXACT
    * float norm (the quantized prefilter's bound needs it; the exact
    * verify reuses it via [[normedEmbeddings]]'s identical expression).
    * Cached per (session, corpus) like [[bucketTable]] — quantization's
    * interpreted `transform` HOFs are a BUILD-time cost (in production
    * this is a persisted corpus artifact written once per build), and
    * the same lifecycle/staleness contract applies.
    */
  private[graft] val quantizedIndexCache = new graft.lake.SessionMemo.Persisted
  private[sim] def quantizedIndex(s: SparkSession, d: String): DataFrame =
    quantizedIndexCache(s, s"$d/embeddings.parquet") {
      Quantization.quantizeInt8(embeddings(s, d))
        .select(col("vec_id"), col("qvec"), col("qscale").as("qs"),
          expr(s"sqrt(${dotSql("embedding", "embedding")})").as("nrm"))
    }

  /** Per-pair SOUND bound on |cos − cos_q| for symmetric-int8
    * quantization, from per-vector stats only. With reconstruction
    * rᵢ = s·qᵢ, per-element error ≤ s/2, dims D = 64:
    *   |dot(a,b) − sₐsᵦ·dot(qₐ,qᵦ)|
    *     ≤ ‖rₐ‖·(√D·sᵦ/2) + ‖rᵦ‖·(√D·sₐ/2) + D·sₐsᵦ/4     (Cauchy–Schwarz)
    *     ≤ 4(sᵦ·‖a‖ + sₐ·‖b‖) + 48·sₐsᵦ                    (‖r‖ ≤ ‖v‖ + 4s)
    * divided by ‖a‖‖b‖ for the cosine; +1e-9 absorbs the bound
    * arithmetic's own double rounding (magnitudes ~1e-2, fp error
    * ~1e-16). QuantizedPrefilterSpec property-tests the inequality on
    * random and adversarial (spike/tiny-norm) vectors.
    */
  private def cosSlack(qsA: Column, nrmA: Column,
      qsB: Column, nrmB: Column): Column =
    (lit(4.0) * (qsB * nrmA + qsA * nrmB) + lit(48.0) * qsA * qsB) /
      (nrmA * nrmB) + lit(1e-9)

  /** s3 / d5: embedding-cosine near-duplicate pairs — the fifth dedup
    * mode of the brief. Same bucketed candidate generation as s2, but
    * symmetric pairs (a < b) kept above a cosine threshold: the
    * "these two documents are semantically the same" signal an
    * embedding-based dedup stage feeds into the keep-one policy.
    * Threshold 0.30 is calibrated to this synthetic corpus (max pair
    * cosine 0.51, no planted embedding dups); real embedding dedup runs
    * the same plan at ~0.9+.
    *
    * Shipped shape (r9, score-in-join): the EXACT cosine is computed
    * inside the bucket self-join's output projection — the float
    * payload rides [[floatBucketIndex]]'s pre-partitioned persisted
    * index (LINEAR bytes, shared with s2), the threshold filters each
    * in-bucket collision in the same codegen stage, and the only
    * pair-grain exchange left is the `dropDuplicates` over SURVIVORS —
    * i.e. output-sized, since the filter IS the output predicate. The
    * per-duplicate recomputation of the dot (≤ 8 tables) is codegen
    * noise next to the exchanges it removes.
    *
    * Adjudicated on the way here (r9, SCALE10TO100_S3Q/ANN_FUSED): the
    * r9a two-stage form — int8 prefilter, then float verify joins —
    * kept candidate-grain streams alive BECAUSE the prefilter is weak
    * exactly where LSH puts it: bucket candidates cluster near the
    * threshold cosine, so `cos_q + slack ≥ τ` passes most of them and
    * the "survivor" verify join stayed candidate-sized (measured
    * 4.7 GB shuffle at the sf10 tier, bexp 2.28, vs this form's
    * output-sized dedup). The two-stage shape is the right one when
    * the scoring payload CANNOT ride the bucket index (e.g. a separate
    * re-rank model); it is retained as [[s3EmbeddingNeardupJoined]]
    * with the sound-bound spec intact. Output identical to the
    * all-float [[s3EmbeddingNeardupExact]] baseline (spec-pinned).
    */
  def s3EmbeddingNeardup(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val bi = floatBucketIndex(s, d)
    val a = bi.as("a")
    val c = bi.as("c").hint("shuffle_hash")
    a.join(c,
        col("a.tbl") === col("c.tbl") && col("a.bk") === col("c.bk") &&
          col("a.vec_id") < col("c.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("c.vec_id").as("vec_b"),
        round(expr(dotSql("a.embedding", "c.embedding")) /
          (col("a.nrm") * col("c.nrm")), 4).as("cos"))
      .filter(col("cos") >= 0.30)
      .dropDuplicates("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  /** The r9 interim join-then-prefilter form: id-only candidate pairs
    * dedup'd at CANDIDATE grain, then two int8-index joins, then the
    * sound-bounded prefilter. Retained as the fused form's equivalence
    * baseline — its pair-grain index joins are what the fused shipped
    * form removes.
    */
  private[graft] def s3EmbeddingNeardupJoined(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val qi = quantizedIndex(s, d)
    val pre = s3Candidates(s, d)
      .join(qi.as("qa"), col("vec_a") === col("qa.vec_id"))
      .join(qi.as("qb"), col("vec_b") === col("qb.vec_id"))
      .filter(
        expr("graft_dot(qa.qvec, qb.qvec)") * col("qa.qs") * col("qb.qs") /
          (col("qa.nrm") * col("qb.nrm")) +
          cosSlack(col("qa.qs"), col("qa.nrm"), col("qb.qs"), col("qb.nrm"))
          >= lit(0.29995))
      .select("vec_a", "vec_b")
    val e = normedEmbeddings(s, d)
    pre
      .join(e.as("eq"), col("vec_a") === col("eq.vec_id"))
      .join(e.as("en"), col("vec_b") === col("en.vec_id"))
      .withColumn("cos", round(
        expr(dotSql("eq.embedding", "en.embedding")) /
          (col("eq.nrm") * col("en.nrm")), 4))
      .filter(col("cos") >= 0.30)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** The retained all-float form of [[s3EmbeddingNeardup]]: candidates
    * join the full float vectors directly. Output-identical by
    * construction (the shipped form's prefilter is sound-bounded);
    * kept as the equivalence baseline for QuantizedPrefilterSpec, the
    * fEditDistanceBlocked pattern.
    */
  private[graft] def s3EmbeddingNeardupExact(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val e = normedEmbeddings(s, d)
    s3Candidates(s, d)
      .join(e.as("eq"), col("vec_a") === col("eq.vec_id"))
      .join(e.as("en"), col("vec_b") === col("en.vec_id"))
      .withColumn("cos", round(
        expr(dotSql("eq.embedding", "en.embedding")) /
          (col("eq.nrm") * col("en.nrm")), 4))
      .filter(col("cos") >= 0.30)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** Corpus API (mirrors [[graft.text.Dedup.dropNearDuplicates]]): drop
    * the higher-id member of every embedding near-dup pair ≥ the
    * threshold — anti-join against the bucketed pair set, keeping the
    * lowest-id survivor per duplicate cluster.
    */
  def dropEmbeddingNearDuplicates(s: SparkSession, d: String,
      minCosine: Double = 0.30): DataFrame = {
    val losers = s3EmbeddingNeardup(s, d)
      .filter(col("cos") >= minCosine)
      .select(col("vec_b").as("vec_id")).distinct()
    embeddings(s, d).join(losers, Seq("vec_id"), "left_anti")
  }

  /** s4: IVF-style ANN — the other standard index shape the brief
    * names. Coarse quantizer: every 25th vector is a centroid
    * (deterministic, no trained state to ship); every vector is
    * assigned to its nearest centroid (inverted lists); a query probes
    * its nprobe=2 nearest centroids and scores exact cosine only inside
    * those lists.
    *
    * Scale shape: the centroid set is small → broadcast to both the
    * assignment and the probe joins (the corpus never shuffles for
    * assignment); candidates meet in an equi-join on cent_id. At real
    * scale the centroids come from k-means and nlist ~ sqrt(n), but the
    * plan is identical.
    */
  def s4IvfTopk(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val e = embeddings(s, d)
    val cents = e.filter(col("vec_id") % centStride(s, d) === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    // inverted lists: nearest centroid per vector (exact-double argmax,
    // cent_id tiebreak)
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(desc("cos_c"), asc("cent_id"))
    val lists = e.join(broadcast(cents))
      .withColumn("cos_c", expr(cosSql("embedding", "cv")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
        col("cent_id"))
    // probes: nprobe=2 nearest centroids per query vector
    val wProbe = Window.partitionBy("q_id")
      .orderBy(desc("cos_c"), asc("cent_id"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .join(broadcast(cents))
      .withColumn("cos_c", expr(cosSql("qv", "cv")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select(col("q_id"), col("qv"), col("cent_id"))
    // exact scoring inside the probed lists only
    val wTop = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    probes.join(lists, Seq("cent_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos_exact", expr(cosSql("qv", "nv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"),
        round(col("cos_exact"), 4).as("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** s11: index-quality report — recall@3 of the LSH fetch and the IVF
    * index against the exact brute top-3 for the bounded query set, as
    * integer basis points: (variant, hits, total, recall_bp). The
    * recall every ANN deployment monitors, as a first-class query
    * rather than a test-only number (the LlmPipelineSpec floors pin
    * the minimums; this op reports the measured values — and the
    * DuckDB oracle recomputes BOTH pipelines independently, so the
    * report itself is hash-gated).
    *
    * Scale shape: each leg is its own index fetch (bounded queries,
    * one corpus stream) plus a ≤ |Q|·k-row semi-join against the brute
    * ranking; the report collapses to one row per variant. At 100 TB
    * the brute leg is the expensive one — run on a sampled query set
    * (it exists to measure the index, and recall estimates concentrate
    * fast in |Q|).
    */
  def s11RecallReport(s: SparkSession, d: String): DataFrame = {
    val brute = s1CosineTopk(s, d).filter(col("rank") <= 3)
      .select("q_id", "n_id")
    val tot = brute.agg(count(lit(1)).as("total"))
    def leg(variant: String, idx: DataFrame): DataFrame =
      brute.join(idx.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(tot)
        .select(lit(variant).as("variant"), col("hits"), col("total"),
          expr("hits * 10000 div total").as("recall_bp"))
    leg("ivf", s4IvfTopk(s, d))
      .unionByName(leg("lsh", lshTopK(s, d, 3)))
      .orderBy("variant")
  }

  /** Incremental embedding admission — [[graft.text.Dedup.admitIncrement]]'s
    * vector twin: keep only the increment vectors that are embedding
    * near-duplicates (cosine ≥ `minCosine`) of neither the EXISTING
    * corpus nor a lower-id vector in the same increment. The corpus is
    * immutable and NEVER self-joins: cross candidates come from
    * broadcasting the (small) increment's bucket rows against the
    * corpus bucket index — the persist-once artifact a production
    * pipeline builds per corpus and probes per daily batch
    * (`corpusIndex`; [[s12IncrementalAdmit]] memoizes it per
    * (session, dir)). Per-increment cost is O(|increment| + collided
    * buckets), independent of corpus size beyond the one index probe.
    *
    * The hash family is sized by the CORPUS count (`familyN`) — the
    * index's own calibration, exactly like a persisted ANN index whose
    * parameters were fixed at build time; increments hash with the
    * same family or they probe the wrong buckets. Scoring is
    * score-in-join on both legs (the s2/s3 r9 shape): exact cosine in
    * the join projection, no pair-grain vector shuffles anywhere.
    *
    * Contracts: vec_ids disjoint across the frames; both carry
    * (vec_id, embedding, nrm) as produced by [[normedEmbeddings]].
    */
  /** (vec_id, embedding, nrm, tbl, bk) bucket rows for a normed frame
    * under the `familyN`-sized hash family — the payload-carrying index
    * shape [[admitEmbeddingIncrement]] probes and
    * [[graft.streaming.Streams.admitEmbeddingStream]] persists once per
    * corpus. familyN is an explicit parameter (not the frame's count):
    * a persisted index's hash family is fixed at BUILD time, and every
    * later prober — increments, the admitted-so-far store — must hash
    * with that same family or probe the wrong buckets.
    */
  def embeddingBucketIndex(df: DataFrame, familyN: Long): DataFrame =
    df.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(expr(bucketsSql(bitsFor(familyN), extraTablesFor(familyN))))
        .as(Seq("tbl", "bk")))

  def admitEmbeddingIncrement(corpus: DataFrame, increment: DataFrame,
      familyN: Long, minCosine: Double = 0.30,
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    def buckets(df: DataFrame): DataFrame = embeddingBucketIndex(df, familyN)
    val ci = corpusIndex.getOrElse(buckets(corpus))
    val ib = buckets(increment)
    def scored(pairs: DataFrame): DataFrame = pairs
      .filter(round(expr(dotSql("i.embedding", "c.embedding")) /
        (col("i.nrm") * col("c.nrm")), 4) >= minCosine)
      .select(col("i.vec_id").as("vec_id")).distinct()
    val crossDrop = scored(
      broadcast(ib.as("i")).join(ci.as("c"),
        col("i.tbl") === col("c.tbl") && col("i.bk") === col("c.bk")))
    val intraDrop = scored(
      ib.as("i").join(ib.as("c"),
        col("i.tbl") === col("c.tbl") && col("i.bk") === col("c.bk") &&
          col("c.vec_id") < col("i.vec_id")))
    increment.select("vec_id")
      .join(crossDrop.unionByName(intraDrop).distinct(),
        Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** s12: incremental embedding admission as an oracle-gated query —
    * the newest fifth of the corpus (vec_id ≥ 4n/5; ids 0-based dense)
    * is "today's batch", the rest the curated store. Output: admitted
    * vec_ids. At sf0.01 / τ = 0.30 both drop legs fire (208 cross
    * pairs, 21 intra pairs; 14 of 100 admitted). The corpus bucket
    * index is built once per (session, dir) with the CORPUS-sized
    * family and pre-partitioned on (tbl, bk) like [[floatBucketIndex]].
    */
  private[graft] val corpusBucketIndexCache = new graft.lake.SessionMemo.Persisted

  private val AdmTablePrefix = "adm"

  /** s12's corpus admission index in its disk-persisted bucketed-table
    * form — the [[persistAnnIndex]] lifecycle applied to the
    * incremental-admission family: written once per corpus build,
    * served signature-checked to any later session, so "persist-once"
    * means once per CORPUS, not once per session. The streaming twin
    * ([[graft.streaming.Streams.admitEmbeddingStream]]) takes the
    * served table through its explicit `corpusIndex` parameter.
    */
  def persistAdmissionIndex(s: SparkSession, d: String,
      buckets: Int = 32): String = {
    VectorExpressions.ensureRegistered(s)
    graft.lake.IndexTables.persist(s, s12CorpusIndexFrame(s, d),
      AdmTablePrefix, s"$d/embeddings.parquet", Seq("tbl", "bk"), buckets)
  }

  /** Path-generic persist of an admission index over `corpus` (normed,
    * [[normedEmbeddings]]' shape) under a FIXED `familyN` — the
    * incremental entry point persists through this, then extends via
    * [[appendAdmissionIndex]]. familyN is explicit because it is the
    * build-time calibration every later prober must share.
    */
  def persistAdmissionIndexFor(s: SparkSession, corpusPath: String,
      corpus: DataFrame, familyN: Long, buckets: Int = 32): String = {
    VectorExpressions.ensureRegistered(s)
    graft.lake.IndexTables.persist(s, embeddingBucketIndex(corpus, familyN),
      AdmTablePrefix, corpusPath, Seq("tbl", "bk"), buckets)
  }

  /** The persisted admission index's current stamp — read BEFORE an
    * increment lands (the [[appendAdmissionIndex]] handle).
    */
  def admissionIndexStamp(s: SparkSession, corpusPath: String): Option[String] =
    graft.lake.IndexTables.stampOf(s, AdmTablePrefix, corpusPath)

  /** The persisted admission index table for `corpusPath`, when present
    * and fresh — the relation [[admitEmbeddingIncrement]] takes as
    * `corpusIndex`.
    */
  def servedAdmissionIndex(s: SparkSession,
      corpusPath: String): Option[DataFrame] =
    graft.lake.IndexTables.serve(s, AdmTablePrefix, corpusPath)

  /** INCREMENTAL admission-index maintenance (r12 verdict #2), the
    * vector twin of [[graft.text.Dedup.appendBandIndex]]: after
    * [[admitEmbeddingIncrement]] admits `admitted` and those vectors
    * land in the corpus at `corpusPath`, append exactly their bucket
    * rows — hashed with the ORIGINAL build-time `familyN`, the fixed
    * hash family every prober of this index must share (the class
    * invariant [[embeddingBucketIndex]] documents) — and re-stamp.
    * Sound because the bucket table is per-vector row-decomposable
    * under a fixed family; the full-rebuild comparator is therefore
    * "rebuild on corpus ∪ admitted WITH the same familyN"
    * (IncrementalIndexSpec). Re-sizing the family to the grown corpus
    * is a REBUILD decision (every stored signature changes), exactly
    * like re-training a quantizer — the maintainer re-persists when
    * bitsFor(n) steps.
    */
  def appendAdmissionIndex(s: SparkSession, corpusPath: String,
      admitted: DataFrame, familyN: Long, prevSig: String): String = {
    VectorExpressions.ensureRegistered(s)
    graft.lake.IndexTables.appendIncrement(s,
      embeddingBucketIndex(admitted, familyN),
      AdmTablePrefix, corpusPath, prevSig)
  }

  /** The corpus-side (vec_id < 4n/5) admission index relation — one
    * definition shared by the session-cache build and the persisted
    * table, so the two forms cannot drift.
    */
  private def s12CorpusIndexFrame(s: SparkSession, d: String): DataFrame = {
    val cut = 4L * embeddingCount(s, d) / 5L
    normedEmbeddings(s, d).filter(col("vec_id") < cut)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(expr(bucketsSql(bitsFor(cut), extraTablesFor(cut))))
          .as(Seq("tbl", "bk")))
  }

  def s12IncrementalAdmit(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val cut = 4L * embeddingCount(s, d) / 5L
    val e = normedEmbeddings(s, d)
    val path = s"$d/embeddings.parquet"
    // table-served scans go THROUGH the session cache (scan once,
    // memory after) — the floatBucketIndex policy
    val ci = corpusBucketIndexCache(s, path) {
      graft.lake.IndexTables.serve(s, AdmTablePrefix, path).getOrElse(
        s12CorpusIndexFrame(s, d).repartition(col("tbl"), col("bk")))
    }
    admitEmbeddingIncrement(
      e.filter(col("vec_id") < cut), e.filter(col("vec_id") >= cut),
      familyN = cut, corpusIndex = Some(ci))
  }

  /** s14: index-backed RADIUS search — the ANN family's other query
    * shape next to top-k: EVERY neighbor within a similarity radius
    * (cos ≥ τ) of each query, not a fixed count. The retrieval shape
    * for "give me everything semantically this close" — dedup
    * candidates for a specific doc, near-duplicate audit of an
    * incoming batch — where k-truncation would silently drop matches.
    *
    * Same scale story as s10's fetch: the bounded query set's bucket
    * rows broadcast into the corpus index probe ([[lshScoredCandidates]]
    * — the corpus streams once, no crossJoin), exact cosine per
    * distinct collided pair in the join projection, then the radius
    * filter. The DuckDB oracle re-derives the identical bucket family,
    * so the approximate index IS the contract (both engines miss the
    * same out-of-bucket pairs — the oracle pins the index semantics,
    * not brute recall; s11 reports the recall gap as its own query).
    */
  def s14RadiusSearch(s: SparkSession, d: String): DataFrame =
    lshScoredCandidates(s, d)
      .withColumn("cos", round(col("cos_exact"), 4))
      .filter(col("cos") >= 0.15)
      .select("q_id", "n_id", "cos")
      .orderBy("q_id", "n_id")

  /** Bucket rows WITH the metadata column the filtered probe constrains
    * on — (vec_id, label, tbl, bk), one corpus scan, cached per
    * (session, corpus) under its own signature key next to
    * [[bucketTable]]. This is the textbook filtered-vector-search
    * index layout: the filterable attribute is stored IN the index
    * entry, so a probe's predicate prunes candidates at the
    * candidate-generation join, not after fetch-and-score. In the
    * persisted-table form ([[graft.lake.IndexTables]]) the column
    * would simply ride the bucketed table's schema.
    */
  private[graft] val labeledBucketIndexCache =
    new graft.lake.SessionMemo.Persisted
  private[graft] def labeledBucketTable(s: SparkSession, d: String): DataFrame =
    labeledBucketIndexCache(s, s"$d/embeddings.parquet") {
      embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(expr(bucketsSql(bitsFor(embeddingCount(s, d)),
              extraTablesFor(embeddingCount(s, d)))))
            .as(Seq("tbl", "bk")))
    }

  /** s15: metadata-FILTERED ANN — top-5 neighbors constrained to the
    * query's own class (`label`), the pre-filtered-search shape every
    * production vector store exposes (per-language near-dup, per-tenant
    * retrieval, within-class hard negatives). The filter is applied as
    * part of the index-probe JOIN KEY PATH — the query's bucket rows
    * broadcast into the labeled corpus index and a candidate must match
    * (tbl, bk) AND the label predicate to exist at all — so mismatched
    * candidates are never fetched, never scored, and never shuffled
    * (PRE-filtering). The post-filter alternative (run unfiltered
    * top-k, then discard) is both wasteful and WRONG: it returns
    * fewer than k survivors whenever the unfiltered top-k is
    * label-diverse, which is exactly the failure mode filtered search
    * exists to avoid.
    *
    * Scale shape: identical to [[s14RadiusSearch]]'s probe — corpus
    * streams once through the bucket join, candidate volume is
    * bucket-size × tables further cut by the class's selectivity;
    * exact cosine only for surviving pairs. The DuckDB oracle
    * re-derives the same bucket family + predicate, so the filtered
    * index semantics ARE the contract.
    */
  def s15FilteredTopk(s: SparkSession, d: String): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val bt = labeledBucketTable(s, d)
    val cand = bt.as("c").join(
        broadcast(bt.filter(col("vec_id") < 10)).as("q"),
        col("q.tbl") === col("c.tbl") && col("q.bk") === col("c.bk") &&
          col("q.label") === col("c.label") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("q.label").as("label"),
        col("c.vec_id").as("n_id"))
      .dropDuplicates("q_id", "n_id")
    val e = normedEmbeddings(s, d)
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos_exact"), asc("n_id"))
    // candidate side pinned broadcast — [[lshScoredCandidates]]'s
    // rationale: candidates are probe-bounded and scale-constant, the
    // corpus must only stream
    broadcast(broadcast(cand)
        .join(e.as("eq"), col("q_id") === col("eq.vec_id")))
      .join(e.as("en"), col("n_id") === col("en.vec_id"))
      .withColumn("cos_exact",
        expr(dotSql("eq.embedding", "en.embedding")) /
          (col("eq.nrm") * col("en.nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("label"), col("n_id"),
        round(col("cos_exact"), 4).as("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_cosine_topk"      -> (s1CosineTopk _),
    "s10_hard_negatives"  -> (s10HardNegatives _),
    "s11_recall_report"   -> (s11RecallReport _),
    "s12_incremental_admit" -> (s12IncrementalAdmit _),
    "s14_radius_search"   -> (s14RadiusSearch _),
    "s15_filtered_topk"   -> (s15FilteredTopk _),
    "s2_ann_lsh"          -> (s2AnnLsh _),
    "s3_embedding_neardup" -> (s3EmbeddingNeardup _),
    "s4_ivf_topk"         -> (s4IvfTopk _),
  )

  // --- DuckDB oracles --------------------------------------------------
  // list_reduce is DuckDB's sequential fold; prepending Spark's 0.0 seed
  // is exact (0.0 + x == x), so both folds produce identical doubles.

  private[sim] def dotDuck(a: String, b: String): String =
    s"""list_reduce(list_transform(range(len($a)),
       |  i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)),
       |  (x, y) -> x + y)""".stripMargin

  private[sim] def cosDuck(a: String, b: String): String =
    s"(${dotDuck(a, b)} / (sqrt(${dotDuck(a, a)}) * sqrt(${dotDuck(b, b)})))"

  /** Per-table bucket, mirroring [[bucketsSql]] under the SMOOTHED
    * ladder: table `tbl`'s width is `bits + 1` for the first `extra`
    * tables, and its hyperplane offset packs widths head to tail
    * (`tbl*bits + LEAST(tbl, extra)`), hashed exactly like the Spark
    * literals. With `extra = 0` — every oracle-gated tier — this
    * reduces term-for-term to the flat ladder (`range(bits)`, index
    * `tbl*bits + b`), so oracle outputs are bit-identical to the
    * pre-smoothing CTE. `bits`/`extra` are columns from the `params`
    * CTE below, so the oracle derives the SAME corpus-size-adaptive
    * family as [[bitsFor]]/[[extraTablesFor]]. Cross-engine agreement
    * at a tier where extra > 0 is pinned by `LadderSmoothingSpec`
    * (Spark) + `scripts/check_ladder.py` (DuckDB, k = 10 → extra = 2).
    */
  private val bucketDuck: String = {
    val hp = Hashing.h32Duck(
      "CAST(tbl*bits + LEAST(tbl, extra) + b AS VARCHAR) || '_' || CAST(j AS VARCHAR)")
    s"""CAST(list_sum(list_transform(
       |  range(bits + CASE WHEN tbl < extra THEN 1 ELSE 0 END), b ->
       |  CASE WHEN list_reduce(list_transform(range(len(embedding)),
       |         j -> CAST(embedding[j+1] AS DOUBLE)
       |              * (($hp / 2147483648.0) - 1.0)),
       |         (x, y) -> x + y) > 0
       |       THEN (1 << b) ELSE 0 END)) AS INTEGER)""".stripMargin
  }

  /** `bits(n) = 4 + max(0, floor(log2(n // 2000)))` capped at 20, and
    * `extra(n) = min(7, (8·(k − 2^⌊log2 k⌋)) // 2^⌊log2 k⌋)` (0 at or
    * beyond the cap) — the integer-only twins of [[bitsFor]] /
    * [[extraTablesFor]] (`//` is DuckDB integer division;
    * `length(bin(k)) - 1` is floor(log2 k) for k ≥ 1, so
    * `1 << (length(bin(k)) - 1)` is the highest power of two ≤ k).
    */
  private[graft] val bucketTableDuck: String =
    s"""params AS (
       |  SELECT LEAST(20, 4 + CASE WHEN k <= 1 THEN 0
       |      ELSE length(bin(k)) - 1 END) AS bits,
       |    CASE WHEN k <= 1 OR 4 + length(bin(k)) - 1 >= 20 THEN 0
       |      ELSE LEAST(7, (8 * (k - (1 << (length(bin(k)) - 1))))
       |                    // (1 << (length(bin(k)) - 1))) END AS extra
       |  FROM (SELECT count(*) // 2000 AS k FROM embeddings)
       |), b AS (
       |  SELECT vec_id, embedding, label, tbl, $bucketDuck AS bk
       |  FROM embeddings, range(8) tt(tbl), params
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "s12_incremental_admit" ->
      s"""WITH nn AS (
         |  SELECT CAST(4 * count(*) // 5 AS BIGINT) AS cut FROM embeddings
         |), params AS (
         |  SELECT LEAST(20, 4 + CASE WHEN k <= 1 THEN 0
         |      ELSE length(bin(k)) - 1 END) AS bits,
         |    CASE WHEN k <= 1 OR 4 + length(bin(k)) - 1 >= 20 THEN 0
         |      ELSE LEAST(7, (8 * (k - (1 << (length(bin(k)) - 1))))
         |                    // (1 << (length(bin(k)) - 1))) END AS extra
         |  FROM (SELECT count(*) // 2000 AS k
         |        FROM embeddings, nn WHERE vec_id < nn.cut)
         |), b AS (
         |  SELECT vec_id, embedding, tbl, $bucketDuck AS bk
         |  FROM embeddings, range(8) tt(tbl), params
         |), crossp AS (
         |  SELECT DISTINCT a.vec_id AS ia, c.vec_id AS ic
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bk = c.bk
         |  CROSS JOIN nn WHERE a.vec_id >= nn.cut AND c.vec_id < nn.cut
         |), intrap AS (
         |  SELECT DISTINCT a.vec_id AS ia, c.vec_id AS ic
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bk = c.bk
         |    AND c.vec_id < a.vec_id
         |  CROSS JOIN nn WHERE a.vec_id >= nn.cut AND c.vec_id >= nn.cut
         |), dropped AS (
         |  SELECT DISTINCT ia AS vec_id FROM crossp
         |    JOIN embeddings e1 ON ia = e1.vec_id
         |    JOIN embeddings e2 ON ic = e2.vec_id
         |  WHERE round(${cosDuck("e1.embedding", "e2.embedding")}, 4) >= 0.30
         |  UNION
         |  SELECT DISTINCT ia FROM intrap
         |    JOIN embeddings e1 ON ia = e1.vec_id
         |    JOIN embeddings e2 ON ic = e2.vec_id
         |  WHERE round(${cosDuck("e1.embedding", "e2.embedding")}, 4) >= 0.30
         |)
         |SELECT vec_id FROM embeddings CROSS JOIN nn
         |WHERE vec_id >= nn.cut
         |  AND vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY vec_id""".stripMargin,
    "s1_cosine_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10
         |), c AS (
         |  SELECT vec_id AS n_id, embedding AS nv FROM embeddings
         |), scored AS (
         |  SELECT q_id, n_id, ${cosDuck("qv", "nv")} AS cos_exact
         |  FROM q, c WHERE q_id <> n_id
         |), ranked AS (
         |  SELECT q_id, n_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_exact DESC, n_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, round(cos_exact, 4) AS cos, rank
         |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "s10_hard_negatives" ->
      s"""WITH $bucketTableDuck, cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |  FROM b q JOIN b c
         |    ON q.tbl = c.tbl AND q.bk = c.bk AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10
         |), scored AS (
         |  SELECT q_id, n_id,
         |    ${cosDuck("e1.embedding", "e2.embedding")} AS cos_exact
         |  FROM cand JOIN embeddings e1 ON q_id = e1.vec_id
         |            JOIN embeddings e2 ON n_id = e2.vec_id
         |  WHERE n_id <> q_id + 100
         |), ranked AS (
         |  SELECT q_id, n_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_exact DESC, n_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT q_id, q_id + 100 AS pos_id, n_id,
         |  round(cos_exact, 4) AS cos, rank
         |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "s11_recall_report" ->
      s"""WITH $bucketTableDuck, brute AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosDuck("q.embedding", "c.embedding")} DESC,
         |          c.vec_id) AS rank
         |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 3
         |), lshr AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos_exact DESC, n_id) AS rank
         |    FROM (
         |      SELECT cand.q_id, cand.n_id,
         |        ${cosDuck("e1.embedding", "e2.embedding")} AS cos_exact
         |      FROM (
         |        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |        FROM b q JOIN b c
         |          ON q.tbl = c.tbl AND q.bk = c.bk AND q.vec_id <> c.vec_id
         |        WHERE q.vec_id < 10) cand
         |      JOIN embeddings e1 ON cand.q_id = e1.vec_id
         |      JOIN embeddings e2 ON cand.n_id = e2.vec_id))
         |  WHERE rank <= 3
         |), cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cv
         |  FROM embeddings,
         |    (SELECT GREATEST(25, count(*) // 20) AS st FROM embeddings) p
         |  WHERE vec_id % p.st = 0
         |), lists AS (
         |  SELECT n_id, nv, cent_id FROM (
         |    SELECT e.vec_id AS n_id, e.embedding AS nv, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosDuck("e.embedding", "c.cv")} DESC, c.cent_id) AS rn
         |    FROM embeddings e, cents c)
         |  WHERE rn = 1
         |), probes AS (
         |  SELECT q_id, qv, cent_id FROM (
         |    SELECT e.vec_id AS q_id, e.embedding AS qv, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosDuck("e.embedding", "c.cv")} DESC, c.cent_id) AS rn
         |    FROM embeddings e, cents c WHERE e.vec_id < 10)
         |  WHERE rn <= 2
         |), ivfr AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos_exact DESC, n_id) AS rank
         |    FROM (
         |      SELECT p.q_id, l.n_id, ${cosDuck("p.qv", "l.nv")} AS cos_exact
         |      FROM probes p JOIN lists l ON p.cent_id = l.cent_id
         |      WHERE p.q_id <> l.n_id))
         |  WHERE rank <= 3
         |), tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM brute),
         |hl AS (SELECT CAST(count(*) AS BIGINT) AS hits
         |       FROM lshr JOIN brute USING (q_id, n_id)),
         |hi AS (SELECT CAST(count(*) AS BIGINT) AS hits
         |       FROM ivfr JOIN brute USING (q_id, n_id))
         |SELECT variant, hits, total,
         |  CAST(hits * 10000 // total AS BIGINT) AS recall_bp FROM (
         |  SELECT 'ivf' AS variant, hi.hits, tot.total FROM hi, tot
         |  UNION ALL
         |  SELECT 'lsh', hl.hits, tot.total FROM hl, tot)
         |ORDER BY variant""".stripMargin,
    "s14_radius_search" ->
      s"""WITH $bucketTableDuck, cand AS (
         |  SELECT DISTINCT a.vec_id AS q_id, c.vec_id AS n_id
         |  FROM b a JOIN b c
         |    ON a.tbl = c.tbl AND a.bk = c.bk AND a.vec_id <> c.vec_id
         |  WHERE a.vec_id < 10
         |), scored AS (
         |  SELECT q_id, n_id,
         |    round(${cosDuck("e1.embedding", "e2.embedding")}, 4) AS cos
         |  FROM cand JOIN embeddings e1 ON q_id = e1.vec_id
         |            JOIN embeddings e2 ON n_id = e2.vec_id)
         |SELECT q_id, n_id, cos FROM scored
         |WHERE cos >= 0.15 ORDER BY q_id, n_id""".stripMargin,
    "s15_filtered_topk" ->
      s"""WITH $bucketTableDuck, cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, q.label AS label,
         |    c.vec_id AS n_id
         |  FROM b q JOIN b c
         |    ON q.tbl = c.tbl AND q.bk = c.bk AND q.label = c.label
         |    AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10
         |), scored AS (
         |  SELECT q_id, cand.label AS label, n_id,
         |    ${cosDuck("e1.embedding", "e2.embedding")} AS cos_exact
         |  FROM cand JOIN embeddings e1 ON q_id = e1.vec_id
         |            JOIN embeddings e2 ON n_id = e2.vec_id
         |), ranked AS (
         |  SELECT q_id, label, n_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_exact DESC, n_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT q_id, label, n_id, round(cos_exact, 4) AS cos, rank
         |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "s2_ann_lsh" ->
      s"""WITH $bucketTableDuck, cand AS (
         |  SELECT DISTINCT a.vec_id AS q_id, c.vec_id AS n_id
         |  FROM b a JOIN b c
         |    ON a.tbl = c.tbl AND a.bk = c.bk AND a.vec_id <> c.vec_id
         |), scored AS (
         |  SELECT q_id, n_id,
         |    ${cosDuck("e1.embedding", "e2.embedding")} AS cos_exact
         |  FROM cand JOIN embeddings e1 ON q_id = e1.vec_id
         |            JOIN embeddings e2 ON n_id = e2.vec_id
         |), ranked AS (
         |  SELECT q_id, n_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_exact DESC, n_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, round(cos_exact, 4) AS cos, rank
         |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "s3_embedding_neardup" ->
      s"""WITH $bucketTableDuck, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
         |  FROM b a JOIN b c
         |    ON a.tbl = c.tbl AND a.bk = c.bk AND a.vec_id < c.vec_id
         |), scored AS (
         |  SELECT vec_a, vec_b,
         |    round(${cosDuck("e1.embedding", "e2.embedding")}, 4) AS cos
         |  FROM cand JOIN embeddings e1 ON vec_a = e1.vec_id
         |            JOIN embeddings e2 ON vec_b = e2.vec_id)
         |SELECT vec_a, vec_b, cos FROM scored
         |WHERE cos >= 0.30 ORDER BY vec_a, vec_b""".stripMargin,
    "s4_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cv
         |  FROM embeddings,
         |    (SELECT GREATEST(25, count(*) // 20) AS st FROM embeddings) p
         |  WHERE vec_id % p.st = 0
         |), lists AS (
         |  SELECT n_id, nv, cent_id FROM (
         |    SELECT e.vec_id AS n_id, e.embedding AS nv, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosDuck("e.embedding", "c.cv")} DESC, c.cent_id) AS rn
         |    FROM embeddings e, cents c)
         |  WHERE rn = 1
         |), probes AS (
         |  SELECT q_id, qv, cent_id FROM (
         |    SELECT e.vec_id AS q_id, e.embedding AS qv, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosDuck("e.embedding", "c.cv")} DESC, c.cent_id) AS rn
         |    FROM embeddings e, cents c WHERE e.vec_id < 10)
         |  WHERE rn <= 2
         |), ranked AS (
         |  SELECT q_id, n_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_exact DESC, n_id) AS INTEGER) AS rank
         |  FROM (
         |    SELECT p.q_id, l.n_id, ${cosDuck("p.qv", "l.nv")} AS cos_exact
         |    FROM probes p JOIN lists l ON p.cent_id = l.cent_id
         |    WHERE p.q_id <> l.n_id))
         |SELECT q_id, n_id, round(cos_exact, 4) AS cos, rank
         |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
  )
}
