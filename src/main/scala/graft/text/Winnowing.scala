package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.lake.Tables._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * SIGMOD 2003 — the MOSS plagiarism-detector algorithm): slide a
  * window of `W` consecutive token-`K`-gram hashes over each document
  * and keep the minimum hash of every window (rightmost position on
  * ties, the paper's robust-winnowing rule). The selected hashes are
  * the document's fingerprint set, with two properties the d7/d9/d10
  * chunk/suffix/set pipelines do not give at once:
  *
  *   - GUARANTEE: any run of ≥ W + K − 1 identical consecutive tokens
  *     shared by two documents yields at least one SHARED fingerprint
  *     (the run contains a full common window; both documents select
  *     that window's minimum — property-tested under random planting).
  *   - DENSITY: expected fingerprints per document are 2/(W+1) of its
  *     grams, corpus-size-independent — the index stays a fixed
  *     fraction of the scan no matter how the corpus grows.
  *
  * Plan shape (the 100 TB lens): gram explode + hashing are scan-bound
  * projections; ONE doc_id exchange serves both the window pass and
  * the per-doc fingerprint distinct (grouping on (doc_id, h) is
  * satisfied by doc_id partitioning); the pair join is a fingerprint
  * equi-join — the d2 band-join shape, with candidate volume bounded
  * by fingerprint bucket sizes rather than all pairs. Boilerplate
  * fingerprints shared by millions of docs are the documented skew
  * knob (same class as d10's prefix df — a df cap on the join key
  * trades the guarantee for a bound; not applied here, where the
  * guarantee is the point).
  *
  * Cross-engine determinism: gram hash is the portable md5 prefix
  * (`conv(substr(md5,1,8),16,10)` == DuckDB `('0x'||…)::BIGINT`), and
  * the min-hash-rightmost-tie selection is ONE integer window-min over
  * `h·2³¹ + (2³¹−1−pos)` — minimizing that key minimizes (h, −pos)
  * lexicographically, so both engines pick the identical gram with no
  * struct/row comparison semantics in play (pos < 2³¹ bounds document
  * length at 2 G grams). Reference: window-frame min mirrors
  * `ROWS BETWEEN CURRENT ROW AND W−1 FOLLOWING`; only FULL windows
  * select (pos ≤ n_grams − W), matching the paper's definition.
  */
object Winnowing {

  private val K = 3       // tokens per gram (the d10 shingle universe)
  private val W = 4       // grams per winnowing window; guarantee t = 6
  private val PosRadix = 2147483648L // 2^31: key = h*2^31 + (2^31-1-pos)

  /** (doc_id, pos, h): the selected fingerprints of every document —
    * `pos` is the selected GRAM's position (0-based), `h` its portable
    * 32-bit md5-prefix hash. Exposed for the spec's guarantee and
    * tie-rule pins; [[t29WinnowingPairs]] drops pos and dedups.
    */
  private[graft] def fingerprints(docs: DataFrame): DataFrame = {
    // gram digests via the native graft_ngram_md5 kernel (r18): the
    // transform/slice/concat_ws/md5 SQL chain it replaces is an
    // array-HOF CodegenFallback — the ngo builder measured it 8.85×
    // slower (NGO_KERNEL_R15.json) and the r18 stage profile read the
    // whole t38 gram+window kernel in ONE task at sf0.1. Bit-equality
    // of kernel vs chain is spec-pinned (WinnowingSpec); h keeps the
    // portable first-8-hex-chars contract (conv is case-insensitive,
    // hex() emits uppercase). n_grams = size(digest array) by
    // construction (= size(toks) − K + 1), so the ≥ K+W−1 token filter
    // becomes ≥ W grams. The doc_id spread repairs the narrow-tier
    // single-task kernel AND pre-satisfies the window's clustering
    // (identity at production scale — guide §2.5).
    // NO pre-explode short-doc filter, and posexplode_OUTER: any
    // deterministic pre-explode predicate (an explicit n_grams ≥ W, or
    // the size>0/isnotnull filters InferFiltersFromGenerate adds for an
    // inner explode) is pushed below the spread exchange with the
    // kernel RE-SUBSTITUTED into it — the digest loop then re-runs in
    // the narrow scan task the spread exists to escape. The outer
    // explode infers nothing; short docs' gram rows (and the one
    // null-pos row an empty array emits) die at the existing full-window
    // filter, because pos ≤ n_grams − W is unsatisfiable for
    // n_grams < W — same rows out, kernel evaluated exactly once.
    graft.functions.TextSignatures.ensureRegistered(docs.sparkSession)
    val grams = graft.ops.Spread.ifNarrow(docs, col("doc_id"))
      .select(col("doc_id"), expr(s"graft_ngram_md5(text, $K)").as("ngs"))
      .select(col("doc_id"), size(col("ngs")).as("n_grams"),
        posexplode_outer(col("ngs")).as(Seq("pos", "ng")))
      .select(col("doc_id"), col("n_grams"), col("pos"),
        expr("cast(conv(substr(hex(ng), 1, 8), 16, 10) as bigint)").as("h"))
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, W - 1)
    grams
      .withColumn("wkey",
        min(col("h") * PosRadix + (lit(PosRadix - 1) - col("pos"))).over(frame))
      .filter(col("pos") <= col("n_grams") - W)
      .select(col("doc_id"),
        (lit(PosRadix - 1) - pmod(col("wkey"), lit(PosRadix))).as("pos"),
        // `div`, not `/`: bigint `/` is DOUBLE division in Spark, and a
        // 63-bit key rounds in the 53-bit mantissa (off-by-one hashes)
        expr(s"wkey div ${PosRadix}L").as("h"))
      .distinct()
  }

  /** t29: document pairs sharing ≥ 3 winnowing fingerprints, with the
    * shared count — the candidate relation a MOSS-style overlap
    * detector ranks. Output (doc_a, doc_b, shared).
    *
    * Shipped shape contracts EXACT-DUPLICATE fingerprint sets before
    * the pair join (the d10/d12 `groupedSets` lesson): docs with the
    * identical sorted fingerprint array collapse to one representative
    * — on a clone-heavy corpus (exactly what a crawl sees; the 100×
    * rotation tier measured 5.5 GB of pair-join shuffle, bexp 1.21
    * from this densification) a clone cluster of size g would put g
    * copies of every fingerprint into its buckets and g² rows into
    * each bucket's join. Pairs re-expand afterwards at OUTPUT cost:
    * identical sets share every fingerprint (within-group shared =
    * |set|), and a cross pair inherits its rep pair's count (same
    * sets ⇒ same intersection). Output identical to the doc-grain
    * form (spec-pinned incl. a clone-cluster fixture).
    */
  def t29WinnowingPairs(s: SparkSession, d: String): DataFrame =
    servedFingerprints(s, d) match {
      case Some(fp) => winnowingPairsFromFp(fp)
      case None => winnowingPairs(documents(s, d))
    }

  /** Corpus API for t29 — see [[t29WinnowingPairs]]. */
  def winnowingPairs(docs: DataFrame): DataFrame =
    winnowingPairsFromFp(
      fingerprints(docs).select("doc_id", "h").distinct())

  /** t29's machinery over an explicit (doc_id, h) fingerprint relation
    * — the entry point the SERVED index table takes ([[t29WinnowingPairs]]
    * consumes [[persistFingerprintIndex]]'s table through this when one
    * is fresh, skipping the gram-hash + window-min recompute entirely;
    * WinnowingSpec pins table-served ≡ recompute).
    */
  private def winnowingPairsFromFp(fp: DataFrame): DataFrame = {
    // the fingerprint relation is consumed by both self-join sides
    // (observed no ReuseExchange across aliased subtrees — the d10
    // shared-shingle lesson). The set-grouping agg reuses the doc_id
    // partitioning (the served table is BUCKETED on doc_id).
    val grouped = fp
      .groupBy("doc_id").agg(sort_array(collect_set(col("h"))).as("hs"))
      .groupBy("hs").agg(min("doc_id").as("doc_id"),
        sort_array(collect_list("doc_id")).as("members"))
      .localCheckpoint()
    val repFp = grouped.select(col("doc_id"), explode(col("hs")).as("h"))
    val a = repFp.as("a")
    val b = repFp.as("b").hint("shuffle_hash")
    val repPairs = a.join(b,
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    val cross = repPairs
      .join(grouped.select(col("doc_id").as("ra"), col("members").as("ma")), "ra")
      .join(grouped.select(col("doc_id").as("rb"), col("members").as("mb")), "rb")
      .select(col("shared"), explode(col("ma")).as("x"), col("mb"))
      .select(col("shared"), col("x"), explode(col("mb")).as("y"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"), col("shared"))
    val within = grouped
      .filter(size(col("members")) >= 2 && size(col("hs")) >= 3)
      .select(size(col("hs")).cast("long").as("shared"),
        explode(col("members")).as("x"), col("members"))
      .select(col("shared"), col("x"), explode(col("members")).as("y"))
      .filter(col("x") < col("y"))
      .select(col("x").as("doc_a"), col("y").as("doc_b"), col("shared"))
    cross.unionByName(within).orderBy("doc_a", "doc_b")
  }

  /** Case/whitespace normalization both decontamination sides pass
    * through before fingerprinting — the edit classes a leaked
    * benchmark item most commonly differs by (re-cased titles,
    * reflowed whitespace) must not break the shared-run guarantee.
    */
  private def normalized(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      trim(regexp_replace(lower(col("text")), "\\s+", " ")))

  /** Benchmark DECONTAMINATION at winnowing-fingerprint grain (r12
    * verdict #8 — d8's upgrade): flag every training doc sharing ≥
    * `minShared` fingerprints with any benchmark doc. d8 screens by
    * exact 5-gram hash — one reflowed whitespace or re-cased word
    * breaks every overlapping shingle — while winnowing fingerprints
    * on normalized text carry the MOSS guarantee: any surviving
    * verbatim run of ≥ W+K−1 tokens still yields a shared fingerprint,
    * so near-verbatim-with-edits leaks are recovered (spec-pinned on
    * planted edited fixtures).
    *
    * Scale shape (100 TB training corpus × ~10⁴-doc benchmark suite):
    * the benchmark fingerprint set is tiny by construction and
    * BROADCASTS into the fingerprint equi-join — the training corpus
    * streams once through gram-hash + window-min (scan-bound, one
    * doc_id exchange) and probes the broadcast; candidate volume is
    * bounded by matching fingerprints, never |train|×|bench| pairs.
    * Output: (doc_id, n_benchmarks, max_shared) per contaminated
    * training doc.
    *
    * `benchmarkIsSmall` gates the broadcast HINT (ADVICE r13 #4): the
    * forced broadcast is right for a genuinely external benchmark
    * suite (fingerprints of ~10⁴ docs — KBs), but d14/t38 bind the
    * benchmark to the odd HALF of the corpus for oracle parity, and a
    * half-corpus fingerprint set grows with the tier — at 100 TB it
    * blows the driver/8 GB broadcast ceiling. Those callers pass
    * false and AQE picks broadcast-vs-shuffle from the measured size
    * (at bench tiers it still broadcasts; at a tier where it can't,
    * a shuffled equi-join is the correct plan, not an OOM).
    */
  def decontaminate(training: DataFrame, benchmark: DataFrame,
      minShared: Long = 3L, benchmarkIsSmall: Boolean = true,
      trainFp: Option[DataFrame] = None,
      benchFp: Option[DataFrame] = None): DataFrame = {
    // explicit distinct on (doc_id, h): the set grain both oracles
    // declare (DISTINCT in fpCtesDuck) and the grain the persisted
    // index table stores — a doc re-selecting one hash at two
    // positions must count once. trainFp/benchFp take the SERVED
    // normalized-fingerprint table ([[persistFingerprintIndex]]) so a
    // fresh table skips both sides' gram-hash + window-min recompute.
    val tf = trainFp.getOrElse(
      fingerprints(normalized(training)).select("doc_id", "h").distinct())
    val bf0 = benchFp.getOrElse(normalizedFingerprints(benchmark))
      .withColumnRenamed("doc_id", "bench_id")
    val bf = if (benchmarkIsSmall) broadcast(bf0) else bf0
    tf.join(bf, "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_benchmarks"), max("shared").as("max_shared"))
      .orderBy("doc_id")
  }

  /** d14: decontamination over the corpus on d8's deterministic split
    * (even doc_ids = training, odd = benchmark), fingerprint-grain.
    */
  def d14Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val fp = servedNormFingerprints(s, d)
    decontaminate(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      benchmarkIsSmall = false, // half-corpus benchmark: AQE sizes the join
      trainFp = fp.map(_.filter(col("doc_id") % 2 === 0)),
      benchFp = fp.map(_.filter(col("doc_id") % 2 === 1)))
  }

  /** t38: DECONTAMINATED leakage-safe split — the composition a real
    * training run needs before either piece is useful alone: t18
    * assigns docs to train/val/test at near-dup COMPONENT grain (so a
    * dup cluster never straddles splits), and d14 flags training docs
    * contaminated by the benchmark; this query forces every component
    * containing a contaminated member WHOLLY into 'train', so no
    * benchmark-tainted content can reach val/test even through an
    * uncontaminated near-duplicate of a contaminated doc (the
    * two-hop leak neither operator alone closes — the component is
    * the unit of contamination, not the doc). Clean components keep
    * t18's exact coin assignment, so the query degrades to t18's
    * split wherever d14 is silent.
    *
    * Scale shape: t18's machinery untouched (LSH candidate graph +
    * CC + component-keyed coin) plus d14's broadcast fingerprint
    * probe; the force rule is one broadcast semi-annotation of the
    * (tiny) contaminated-component list — no new corpus-sized stage.
    */
  def t38DecontaminatedSplit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val bench = docs.filter(col("doc_id") % 2 === 1)
    // components memoized per session/tier (r18, the Dedup.memoComponents
    // lifecycle) — the train-half candidate closure is its own variant
    val base = Dedup.splitWithComponents(train,
        Dedup.memoComponents(s, d, "cand_even")(
          Dedup.connectedComponents(Dedup.candidatePairsFor(train))))
      .select("doc_id", "component", "split")
    val fp = servedNormFingerprints(s, d)
    val hot = base
      .join(decontaminate(train, bench, benchmarkIsSmall = false,
          trainFp = fp.map(_.filter(col("doc_id") % 2 === 0)),
          benchFp = fp.map(_.filter(col("doc_id") % 2 === 1)))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("component").distinct()
      .withColumn("contaminated", lit(true))
    base.join(broadcast(hot), Seq("component"), "left")
      .select(col("doc_id"), col("component"),
        when(col("contaminated"), lit("train")).otherwise(col("split"))
          .as("split"))
      .orderBy("doc_id")
  }

  /** The doc-grain join-every-copy form — retained as the contraction's
    * equivalence baseline (spec-pinned identical output).
    */
  private[graft] def winnowingPairsDocGrain(docs: DataFrame): DataFrame = {
    val fp = fingerprints(docs)
      .select("doc_id", "h").distinct().localCheckpoint()
    val a = fp.as("a")
    val b = fp.as("b").hint("shuffle_hash")
    a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .orderBy("doc_a", "doc_b")
  }

  // ---- persisted fingerprint index (r13 verdict stretch #10) -------
  // winnowingPairs' docstring named the production posture ("persists
  // this index next to the corpus, like the ANN bucket table"); these
  // apply the IndexTables lifecycle to it. TWO tables, one per text
  // grain: `wfp` fingerprints the RAW text (t29's contract — overlap
  // detection is case-sensitive) and `wfpn` the NORMALIZED text (the
  // decontamination grain d14/t38 probe). Both are per-doc
  // row-decomposable — a doc's fingerprints derive from its text
  // alone — so appendIncrement is sound row-for-row, and both are
  // bucketed on doc_id (the set-grouping/probe clustering; the h
  // equi-join re-keys inherently). Stamped against documents.parquet.

  private val FpPrefix = "wfp"
  private val FpNormPrefix = "wfpn"
  private def fpPath(d: String): String = s"$d/documents.parquet"

  /** Persist both fingerprint index tables for tier `d`. */
  def persistFingerprintIndex(s: SparkSession, d: String,
      buckets: Int = 32): Seq[String] = {
    val docs = documents(s, d)
    Seq(
      graft.lake.IndexTables.persist(s,
        fingerprints(docs).select("doc_id", "h").distinct(),
        FpPrefix, fpPath(d), Seq("doc_id"), buckets),
      graft.lake.IndexTables.persist(s, normalizedFingerprints(docs),
        FpNormPrefix, fpPath(d), Seq("doc_id"), buckets))
  }

  /** Drop both fingerprint tables for tier `d`, if any. */
  def dropFingerprintIndex(s: SparkSession, d: String): Unit = {
    graft.lake.IndexTables.drop(s, FpPrefix, fpPath(d))
    graft.lake.IndexTables.drop(s, FpNormPrefix, fpPath(d))
  }

  /** The raw-grain table's stamp — [[appendFingerprintIndex]]'s
    * prevSig handle (both tables are persisted together, so one stamp
    * witnesses both).
    */
  def fingerprintStamp(s: SparkSession, d: String): Option[String] =
    graft.lake.IndexTables.stampOf(s, FpPrefix, fpPath(d))

  /** INCREMENTAL fingerprint maintenance: after `admitted` docs land
    * in the corpus, append exactly their fingerprint rows to BOTH
    * tables and re-stamp — fingerprints are per-doc local, so
    * append ≡ rebuild row-for-row (WinnowingSpec pins it, plus the
    * prevSig guard). Auto-maintain pays the file debt per
    * [[graft.lake.IndexTables.maintain]]'s threshold.
    */
  def appendFingerprintIndex(s: SparkSession, d: String,
      admitted: DataFrame, prevSig: String): Seq[String] = Seq(
    graft.lake.IndexTables.appendIncrement(s,
      fingerprints(admitted).select("doc_id", "h").distinct(),
      FpPrefix, fpPath(d), prevSig),
    graft.lake.IndexTables.appendIncrement(s,
      normalizedFingerprints(admitted), FpNormPrefix, fpPath(d), prevSig))

  /** (doc_id, h) fingerprint set at the DECONTAMINATION grain
    * (normalized text) — the one builder [[decontaminate]], the
    * persisted `wfpn` table, and the streaming screen
    * ([[graft.streaming.Streams.decontaminateStream]]) all share, so
    * batch, served, and streamed probes cannot drift.
    */
  private[graft] def normalizedFingerprints(docs: DataFrame): DataFrame =
    fingerprints(normalized(docs)).select("doc_id", "h").distinct()

  private[graft] def servedFingerprints(s: SparkSession,
      d: String): Option[DataFrame] =
    graft.lake.IndexTables.serve(s, FpPrefix, fpPath(d))

  private[graft] def servedNormFingerprints(s: SparkSession,
      d: String): Option[DataFrame] =
    graft.lake.IndexTables.serve(s, FpNormPrefix, fpPath(d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t29_winnowing" -> (t29WinnowingPairs _),
    "d14_decontaminate" -> (d14Decontaminate _),
    "t38_decontaminated_split" -> (t38DecontaminatedSplit _))

  /** The fingerprint CTE chain over a normalized, parity-filtered
    * documents subset, with `p`-prefixed names so the training and
    * benchmark chains compose in one WITH (the d14 oracle).
    */
  private def fpCtesDuck(p: String, parity: Int): String =
    s"""${p}src AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text
       |  FROM documents WHERE doc_id % 2 = $parity
       |), ${p}toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM ${p}src
       |  WHERE len(string_split(text, ' ')) >= ${K + W - 1}
       |), ${p}pos AS (
       |  SELECT doc_id, t, unnest(range(len(t) - ${K - 1})) AS pos
       |  FROM ${p}toks
       |), ${p}grams AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    len(t) - ${K - 1} AS n_grams,
       |    ('0x' || substr(md5(array_to_string(t[pos+1:pos+$K], ' ')), 1, 8))::BIGINT AS h
       |  FROM ${p}pos
       |), ${p}sel AS (
       |  SELECT doc_id, pos, n_grams,
       |    min(h * $PosRadix + ($PosRadix - 1 - pos)) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS wkey
       |  FROM ${p}grams
       |), ${p}fp AS (
       |  SELECT DISTINCT doc_id, wkey // $PosRadix AS h
       |  FROM ${p}sel WHERE pos <= n_grams - $W
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "t38_decontaminated_split" ->
      ("WITH RECURSIVE td AS (SELECT * FROM documents WHERE doc_id % 2 = 0),\n" +
        Dedup.candidateCtes("td") + ",\n" +
        Dedup.closureCtes("pairs") + ",\n" +
        fpCtesDuck("t", 0) + ",\n" + fpCtesDuck("b", 1) + s""",
         |hits AS (
         |  SELECT t.doc_id FROM tfp t JOIN bfp b ON t.h = b.h
         |  GROUP BY t.doc_id, b.doc_id HAVING count(*) >= 3
         |), hotc AS (
         |  SELECT DISTINCT COALESCE(c.component, h.doc_id) AS component
         |  FROM (SELECT DISTINCT doc_id FROM hits) h
         |  LEFT JOIN comp c ON h.doc_id = c.id
         |), sbase AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
         |    CAST('0x' || substr(md5(
         |      CAST(COALESCE(c.component, d.doc_id) AS VARCHAR) || 'split'),
         |      1, 8) AS BIGINT) % 1000000 AS coin
         |  FROM td d LEFT JOIN comp c ON d.doc_id = c.id
         |)
         |SELECT doc_id, component,
         |  CASE WHEN component IN (SELECT component FROM hotc) THEN 'train'
         |       WHEN coin < 100000 THEN 'val'
         |       WHEN coin < 200000 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM sbase ORDER BY doc_id""".stripMargin),
    "d14_decontaminate" ->
      s"""WITH ${fpCtesDuck("t", 0)},
         |${fpCtesDuck("b", 1)},
         |hits AS (
         |  SELECT t.doc_id, b.doc_id AS bench_id,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM tfp t JOIN bfp b ON t.h = b.h
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 3
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_benchmarks,
         |  CAST(max(shared) AS BIGINT) AS max_shared
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t29_winnowing" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= ${K + W - 1}
         |), pos_t AS (
         |  SELECT doc_id, t, unnest(range(len(t) - ${K - 1})) AS pos FROM toks
         |), grams AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    len(t) - ${K - 1} AS n_grams,
         |    ('0x' || substr(md5(array_to_string(t[pos+1:pos+$K], ' ')), 1, 8))::BIGINT AS h
         |  FROM pos_t
         |), sel AS (
         |  SELECT doc_id, pos, n_grams,
         |    min(h * $PosRadix + ($PosRadix - 1 - pos)) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS wkey
         |  FROM grams
         |), fp AS (
         |  SELECT DISTINCT doc_id, wkey // $PosRadix AS h
         |  FROM sel WHERE pos <= n_grams - $W
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS shared
         |FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin)
}
