package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.Tables._

/** Iterative graph analytics — the numeric fixed-point family next to
  * the boolean one (Dedup.connectedComponents' min-label propagation):
  * damped PageRank over the customer↔supplier transaction graph.
  *
  * Cross-engine determinism: ranks are integer PPM carried as bigint;
  * each edge contribution floors ONCE (`rank·85·w div (100·W(u))`) and
  * integer sums are order-independent, so a fixed iteration count gives
  * bit-identical vectors in any engine — the DuckDB oracle mirrors the
  * recurrence as chained (unrolled) CTEs, one per iteration, because
  * standard SQL forbids aggregation in a recursive member.
  */
object Graph {

  /** Damping factor 85/100 and the teleport mass 15% of 1e6 ppm, as
    * integers — shared verbatim with the oracle.
    */
  private val Damp = 85L
  private val Iterations = 5

  /** [[graft.lake.IndexTables]] prefixes for the family's two persisted
    * adjacency artifacts (r10 verdict #1 — the persistAnnIndex
    * treatment applied to the graph family).
    */
  private[graft] val G1Prefix = "g1edges"
  private[graft] val CoAdjPrefix = "coadj"

  /** Persist the family's two adjacency relations as signature-stamped
    * bucketed catalog TABLES — [[edgesWithOut]] bucketed on `src` and
    * [[coOrderWeighted]] bucketed on `u` — so every iterative query's
    * per-round expansion join consumes the layout exchange-free off the
    * SCAN in any later session ([[graft.sim.Similarity.persistAnnIndex]]
    * precedent; BucketedGraphSpec proves the zero-Exchange join). The
    * per-round edge exchange this removes is the family's dominant byte
    * cost at scale (SCALE_G_R10.json: g4 22.6 GB at sf10).
    *
    * The signature covers the TIER DIRECTORY `d` (the artifacts derive
    * from lineitem+orders; signing the whole dir over-invalidates on an
    * unrelated table rewrite, which is the safe direction). Staleness,
    * atomic swap-in, and drop semantics are [[graft.lake.IndexTables]]'s
    * contract.
    */
  def persistAdjacency(s: SparkSession, d: String,
      buckets: Int = 32): Seq[String] = Seq(
    // the g1 table stores the PLAIN weighted edges (src, dst, w) — NOT
    // edgesWithOut's denormalized per-src out-weight (r13 verdict #3b:
    // a denormalized wout is invalidated GLOBALLY by any delta, which
    // forced the whole-table rebuild posture). The out-weight is
    // recovered on read by [[g1Edges]]' merge-on-read — an src-keyed
    // agg + self-join that ride the bucket layout exchange-free (the
    // coAdj recipe) — which makes the table APPENDABLE: a delta may
    // repeat an existing (src, dst) with a partial weight and the
    // per-key sum restores the unique-key relation.
    graft.lake.IndexTables.persist(s,
      g1EdgeRelationFrom(lineitem(s, d), orders(s, d)), G1Prefix, d,
      Seq("src"), buckets),
    graft.lake.IndexTables.persist(s, coOrderWeighted(s, d), CoAdjPrefix, d,
      Seq("u"), buckets))

  /** Drop both persisted adjacency tables for tier `d`, if any. */
  def dropAdjacency(s: SparkSession, d: String): Unit = {
    graft.lake.IndexTables.drop(s, G1Prefix, d)
    graft.lake.IndexTables.drop(s, CoAdjPrefix, d)
  }

  /** The persisted co-order adjacency's current stamp — read BEFORE an
    * increment of new orders lands in tier `d` (the
    * [[appendAdjacencyIncrement]] handle).
    */
  def adjacencyStamp(s: SparkSession, d: String): Option[String] =
    graft.lake.IndexTables.stampOf(s, CoAdjPrefix, d)

  /** INCREMENTAL adjacency maintenance (r12 verdict #2, graph leg):
    * when a batch of NEW orders lands (order keys disjoint from the
    * existing facts, each order's lines complete — co-order pairs are
    * order-local, so whole orders are the natural increment grain),
    * append the DELTA adjacency derived from just those lines and
    * re-stamp, instead of the signature mismatch forcing the 85 s
    * (sf10) full rebuild per increment. Unlike the band/bucket legs
    * the adjacency is ADDITIVE, not row-decomposable: a delta row may
    * repeat an existing (u, v) with a partial weight, and [[coAdj]]
    * merges per key on read — exchange-free on the bucket layout (see
    * its docstring). Equivalence (IncrementalIndexSpec): merged
    * appended table ≡ coOrderWeighted over the full fact set, row for
    * row, and every downstream query (g3/g4/g8…) lands bit-identically
    * on either. The g1 edge table is NOT appendable — its rows carry
    * the per-src out-weight denormalized, which a delta invalidates
    * globally — so it keeps the rebuild posture; its serve simply goes
    * stale and g1 falls back to the cold build until the next
    * [[persistAdjacency]].
    */
  def appendAdjacencyIncrement(s: SparkSession, d: String,
      deltaLineitem: DataFrame, prevSig: String): String =
    graft.lake.IndexTables.appendIncrement(s,
      coOrderWeightedFrom(deltaLineitem), CoAdjPrefix, d, prevSig)

  /** RETRACT whole orders from the persisted co-order adjacency at
    * INCREMENT cost (r13 verdict #6): where [[graft.lake.IndexTables
    * .deleteKeys]] is an honest corpus-sized rewrite (deletions are
    * not expressible as appends in a row-keyed immutable layout), the
    * ADDITIVE adjacency makes deletion algebraically free — the
    * retracted orders' pair weights, NEGATED, land as ordinary delta
    * rows through the very appendIncrement machinery, and [[coAdj]]'s
    * per-key sum cancels them exactly: co-order pairs are order-local,
    * so `coOrderWeightedFrom(retracted lines)` is precisely the
    * contribution those orders made, a fully-retracted pair sums to
    * zero, and the merge's w > 0 filter drops it — bit-equal to a
    * rebuild on corpus ∖ orders (IncrementalIndexSpec pins it, plus
    * the prevSig guard). Cost: one increment-sized append + restamp —
    * no corpus rescan, no file rewrite; IncrementBench measures it
    * against the rebuild the old posture forced. Same caller contract
    * as the append: between prevSig and this call the corpus changed
    * by EXACTLY the removal of these orders' lines.
    */
  def retractAdjacencyOrders(s: SparkSession, d: String,
      retractedLineitem: DataFrame, prevSig: String): String =
    graft.lake.IndexTables.appendIncrement(s,
      coOrderWeightedFrom(retractedLineitem)
        .select(col("u"), col("v"), (-col("w")).as("w")),
      CoAdjPrefix, d, prevSig)

  /** g1's edge relation with the per-src out-weight attached: the
    * served bucketed table when one is persisted and fresh (per-round
    * join exchange-free on the edge side), else the build-and-
    * checkpoint form. The served path is merge-on-read (the coAdj
    * recipe): appended deltas may repeat an (src, dst) key with a
    * partial weight, so the per-key sum restores the unique-key edges,
    * and the out-weight normalization — the aggregate the old
    * denormalized layout baked into the files — is recomputed as an
    * src-keyed agg + join. All three steps (merge agg, outW agg, the
    * join) are clustered on `src`, the bucket key, so the served scan
    * feeds them exchange-free and each PageRank round still joins the
    * edge side without an Exchange (BucketedGraphSpec pins it).
    * A missing table costs one metastore existence check — the
    * signature walk only runs when a table exists.
    */
  // cold-build memo, the [[coAdj]]/[[lpaStates]] lifecycle: g1 rebuilt
  // the identical fact-join edge relation per invocation (r18)
  private val g1EdgeMemo = new graft.lake.SessionMemo.Checkpointed
  private def g1Edges(s: SparkSession, d: String): DataFrame =
    graft.lake.IndexTables.serve(s, G1Prefix, d)
      .map { t =>
        val edges = t.groupBy("src", "dst").agg(sum("w").as("w"))
        edges.join(edges.groupBy("src").agg(sum("w").as("wout")), "src")
      }
      .getOrElse(g1EdgeMemo(s, d)(edgesWithOut(s, d)))

  /** The plain weighted edge relation of g1's bipartite graph —
    * (src, dst, w) both directions, NO out-weight — from explicit fact
    * frames: the persist artifact AND the incremental delta derive
    * through this one body (the coOrderWeightedFrom posture: builder
    * and maintainer cannot drift). For a delta of NEW orders, pass the
    * delta's lineitem and orders slices: the ok-join is order-local,
    * so delta edges = full-fact edges of exactly those orders.
    */
  private[graft] def g1EdgeRelationFrom(li: DataFrame,
      ord: DataFrame): DataFrame = {
    val e0 = li.select(col("l_orderkey").as("ok"),
        col("l_suppkey").as("sk"))
      .join(ord.select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck")), "ok")
      .groupBy("ck", "sk").agg(count(lit(1)).as("w"))
    // symmetrize in ONE pass over the aggregate: the union-of-two-
    // selects form evaluated the (ck, sk) aggregate subtree once per
    // direction (r18 stage profile: twin 0.77 s stages each writing the
    // full 587 k-row aggregate); explode(array(fwd, rev)) emits both
    // directions from a single evaluation — same rows, same types
    e0.select(explode(array(
        struct((col("ck") * 2).cast("long").as("src"),
          (col("sk") * 2 + 1).cast("long").as("dst"), col("w")),
        struct((col("sk") * 2 + 1).cast("long").as("src"),
          (col("ck") * 2).cast("long").as("dst"), col("w")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.w"))
  }

  /** INCREMENTAL g1 edge maintenance (r13 verdict #3b): when a batch
    * of NEW orders lands (keys disjoint, lines complete — the
    * [[appendAdjacencyIncrement]] grain), append the delta edge rows
    * derived from just those orders' lines and re-stamp. The un-
    * denormalized layout makes this sound: edge weights are ADDITIVE
    * per (src, dst) (counts of order-local join rows), deltas merge by
    * the per-key sum on read, and the out-weight is recomputed from
    * the merged relation — nothing in the files depends on global
    * state. IncrementalIndexSpec pins append ≡ rebuild and g1's ranks
    * bit-identical on either.
    */
  def appendG1Increment(s: SparkSession, d: String, deltaLineitem: DataFrame,
      deltaOrders: DataFrame, prevSig: String): String =
    // LEGACY-LAYOUT guard (ADVICE r14): tables persisted before r14
    // stored edgesWithOut's denormalized `wout` under this same prefix.
    // Such a table can still carry a matching corpus stamp (it serves
    // harmlessly — g1Edges' merge-on-read just re-aggregates), but the
    // append's column alignment would throw AnalysisException on the
    // missing `wout` AFTER the delta already landed in the tier,
    // aborting a nightly mid-run. Detect the layout up front and pay
    // one full re-persist into the appendable layout instead.
    if (graft.lake.IndexTables.schemaOf(s, G1Prefix, d)
        .exists(_.fieldNames.contains("wout")))
      graft.lake.IndexTables.persist(s,
        g1EdgeRelationFrom(lineitem(s, d), orders(s, d)), G1Prefix, d,
        Seq("src"))
    else
      graft.lake.IndexTables.appendIncrement(s,
        g1EdgeRelationFrom(deltaLineitem, deltaOrders), G1Prefix, d, prevSig)

  /** The persisted g1 edge table's current stamp — the prevSig handle
    * for [[appendG1Increment]], read BEFORE the increment lands.
    */
  def g1Stamp(s: SparkSession, d: String): Option[String] =
    graft.lake.IndexTables.stampOf(s, G1Prefix, d)

  /** The co-order family's adjacency (u, v, w): served bucketed table
    * when present, else built and checkpointed (three consumers — g3's
    * hops, g4's relaxations, g5's contraction — iterate over it).
    *
    * The COLD build is memoized per (session, tier signature) — the
    * [[lpaStates]]/[[refinedLabels]] lifecycle one relation down:
    * every one of the ~14 co-order graph queries rebuilt the identical
    * deterministic adjacency (pair aggregate + symmetrizing explode +
    * checkpoint, ~1.2 s at sf0.1) on every invocation, and a single
    * g14 run built it three times (its own call + the lpa and refine
    * memo misses — r18 stage profile: the 147 k/1.2 M-row stage triplet
    * ×3). A hit is bit-identical to a re-run (integer weights off a
    * deterministic scan; GraphSpec pins the relation), staleness
    * re-derives via the same corpus signature the other memos use, and
    * the SERVED path is consulted first so a freshly persisted or
    * appended table is never masked. Stopped sessions sweep lazily.
    */
  private val adjMemo = new graft.lake.SessionMemo.Checkpointed
  private[graft] def coAdj(s: SparkSession, d: String): DataFrame =
    graft.lake.IndexTables.serve(s, CoAdjPrefix, d)
      // merge-on-read: incremental appends ([[appendAdjacencyIncrement]])
      // land DELTA rows that may repeat an existing (u, v) key with a
      // partial weight; summing per key restores the unique-key
      // adjacency. The aggregate is EXCHANGE-FREE on the u-bucketed
      // scan — HashPartitioning(u) already clusters (u, v) — and its
      // output keeps the scan's partitioning, so every downstream
      // u-keyed join (g7's wedge self-join, g8's vote join) stays as
      // exchange-free as it was reading the raw table
      // (BucketedGraphSpec pins both). On a freshly persisted table
      // (one row per key) the merge is a values-identity. The w > 0
      // filter is the RETRACTION half of the additive contract
      // ([[retractAdjacencyOrders]]): a fully-retracted pair sums to
      // exactly zero and must vanish like a rebuilt table would drop
      // it; live pairs are strictly positive counts, so the filter is
      // an identity outside retraction.
      .map(_.groupBy("u", "v").agg(sum("w").as("w"))
        .filter(col("w") > 0))
      .getOrElse(adjMemo(s, d)(coOrderWeighted(s, d)))

  /** g1: PageRank (Brin & Page 1998) on the bipartite order graph —
    * nodes are active customers (id 2c) and suppliers (id 2s+1), one
    * symmetric weighted edge per trading pair (weight = lineitem
    * count). Symmetrization kills dangling nodes (every node has
    * out-edges), so no leaked-mass correction term is needed; entities
    * with no orders are simply not in the graph. The rank surfaces the
    * centrality skew a uniform degree count misses: a supplier serving
    * many LOW-degree customers outranks one serving the same number of
    * promiscuous hubs.
    *
    * Fixed point: r₀ = 1e6 (per node); rᵢ₊₁(v) = 150000 +
    * Σ_{u→v} floor(rᵢ(u)·85·w(u,v) / (100·W(u))). Five iterations
    * (spectral gap ≥ damping ⇒ geometric convergence; the spec pins
    * iteration-5 exactly against a plain-Scala reference, so the count
    * is a contract, not a tuning knob).
    *
    * MASS GRAIN (fixed in r10, found by a mass-invariant check at the sf10
    * tier): ranks are micro-units of a UNIFORM NODE's mass — r₀ =
    * 1,000,000 each, total mass 1e6·N — not millionths of the whole
    * graph. The original graph-PPM grain (r₀ = 1e6 div N) integer-
    * UNDERFLOWS to zero the moment N exceeds a million nodes: the sf10
    * tier (1.6 M nodes) ranked every node 0, and any production graph
    * would too. Per-node grain conserves Σ ≈ 1e6·N at every size, the
    * recurrence and plan are unchanged, and rank RATIOS (what PageRank
    * means) are identical up to the floor rounding. `rank_ppm` reads as
    * "millionths of a uniform node's rank".
    *
    * Scale shape (100 TB): the edge list aggregates out of the
    * lineitem⋈orders join ONCE (fact-sized shuffle) and is persisted;
    * each iteration is one join of the node-sized rank vector against
    * the edges plus one dst-keyed partial aggregation — cost per
    * iteration is |edges| shuffled on a key, never fact-rescanned. With
    * [[persistAdjacency]]'s table served, the edges aren't even
    * shuffled: the bucketed scan feeds each round's join exchange-free
    * (BucketedGraphSpec) — the 100 TB serving shape. Rank lineage is
    * truncated per round with the CC materializer. N comes from one
    * node-count aggregate (the bitsFor "know n" step).
    */
  def g1Pagerank(s: SparkSession, d: String): DataFrame =
    pagerank(g1Edges(s, d))

  /** The weighted edge relation with per-src out-weight attached —
    * the persist-once artifact both forms iterate over (fact-sized
    * shuffle paid exactly once; never fact-rescanned).
    */
  private[graft] def edgesWithOut(s: SparkSession, d: String): DataFrame = {
    val edges = g1EdgeRelationFrom(lineitem(s, d), orders(s, d))
    val outW = edges.groupBy("src").agg(sum("w").as("wout"))
    edges.join(outW, "src")
  }

  /** One PageRank round — the relation a GraphSpec/BucketedG1Spec plan
    * assertion sees: edge⋈rank on src, dst-keyed partial agg, teleport
    * add. Exposed so specs can audit ONE iteration's physical plan
    * (exchange count, scan count) rather than the 5-round composite.
    */
  private[graft] def iterationStep(ew: DataFrame,
      rank: DataFrame): DataFrame =
    ew.join(rank.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst"))
      .agg(sum(expr(s"rank * $Damp * w div (100 * wout)")).as("m"))
      .select(col("dst").as("node"),
        (lit(150000L) + col("m")).as("rank"))

  /** Five rounds + final shaping over any materialized `ew`. rank₀
    * derives from ew's distinct src (NOT the pre-materialization outW
    * aggregate, whose lineage would rescan the fact tables once more).
    */
  private def pagerank(ew: DataFrame): DataFrame = {
    var rank = ew.select("src").distinct()
      .select(col("src").as("node"), lit(1000000L).as("rank"))
    (1 to Iterations).foreach { _ =>
      rank = iterationStep(ew, rank).localCheckpoint()
    }
    rank.select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("entity_key"),
        col("rank").as("rank_ppm"))
      .orderBy(desc("rank_ppm"), asc("node_type"), asc("entity_key"))
      .limit(100)
  }

  /** The scaladoc's named 100 TB shape, demonstrated (r8 verdict #6):
    * edges persisted as a BUCKETED table on src (lake/Bucketing), so
    * every iteration's edge⋈rank join consumes the bucket layout with
    * NO Exchange on the edge side — per-round shuffle drops from
    * |edges|+|rank| to |rank| only (the node-sized rank vector aligns
    * to the buckets; the dst-keyed aggregation exchange is inherent —
    * it re-keys). BucketedG1Spec asserts the plan (edge scan feeds the
    * join with zero intervening Exchange, `Bucketed: true`); the
    * point is the per-iteration shuffle-byte drop.
    * Results are bit-identical to [[g1Pagerank]] (same iterate, same
    * integer arithmetic — spec-pinned).
    */
  private[graft] def g1PagerankBucketed(s: SparkSession, d: String,
      table: String = "graft_g1_edges", buckets: Int = 32): DataFrame = {
    graft.lake.Bucketing.writeBucketed(edgesWithOut(s, d), table, "src",
      buckets)
    pagerank(s.table(table))
  }

  /** g2: triangle counting (Schank & Wagner 2005 compact-forward /
    * node-iterator-core) over the parts-co-ordered graph — nodes are
    * parts, one undirected edge per DISTINCT part pair appearing in the
    * same order. Triangles (three parts pairwise co-ordered, across any
    * orders) are the local-clustering signal a co-occurrence
    * recommender reads.
    *
    * Algorithm: orient every edge from lower to higher (degree, node)
    * rank. Each triangle then has exactly ONE wedge vertex with two
    * outgoing oriented edges, so `fwd ⋈ fwd on src` (dst-ordered to
    * halve the wedges) joined against `fwd` on the closing edge counts
    * every triangle exactly once. Degree-ordering is the scale lever:
    * forward-degree is O(√m) on ANY graph (a node of degree d only
    * points at ≥-degree nodes, and there are ≤ 2m/d of those), so wedge
    * fan-out is Σ fwd-deg² ≤ O(m^1.5) — the hub that breaks the naive
    * node-iterator (Σ deg² unbounded on skewed co-purchase graphs)
    * contributes its edges as wedge LEGS, never as wedge CENTERS.
    *
    * Plan shape: per-order part pairs are bounded by the data model
    * (≤ 7 lines/order ⇒ ≤ 21 pairs/order — stated, not assumed: the
    * explode is order-local); distinct-edge contraction, degree agg,
    * orientation, wedge join, closing-edge equi-join are all key
    * shuffles on (part, part) ids. Output: top-20 parts by triangle
    * participation (each triangle credits its three corners),
    * deterministic total order (count desc, part asc).
    *
    * Integer-only arithmetic; the DuckDB oracle runs the identical
    * orientation and joins.
    */
  /** Symmetric WEIGHTED co-order adjacency (u, v, w): both directions
    * of every distinct co-ordered part pair, w = number of orders
    * co-ordering it. The ONE relation the whole co-order family derives
    * from — g2 takes the a<b half, g3 projects (u, v), g4 maps
    * cost = 1e6 div w, g5 contracts it — and therefore the family's
    * [[persistAdjacency]] artifact (bucketed on `u`). Per-order pair
    * generation is ONE order-key exchange (collect_set partials dedup
    * map-side) + an in-array pair explode over the ≤7 sorted parts —
    * replaces the distinct + self-join form's three exchanges; the tiny
    * interpreted lambdas run on 1 row per order, not per lineitem.
    */
  private[graft] def coOrderWeighted(s: SparkSession, d: String): DataFrame =
    coOrderWeightedFrom(lineitem(s, d))

  /** The same relation from an explicit lineitem frame — the
    * incremental-maintenance entry point ([[appendAdjacencyIncrement]])
    * derives a DELTA adjacency from just the new orders' lines through
    * this, guaranteeing the delta is built by the very code that built
    * the persisted table (the two cannot drift).
    */
  private[graft] def coOrderWeightedFrom(li: DataFrame): DataFrame = {
    // pair generation is the native graft_pairs kernel (r18,
    // functions/PairExpansion.scala): the nested transform/slice/
    // flatten HOF it replaces was CodegenFallback — 4.3 CPU-s for the
    // 147 k-order explode stage at sf0.1 — same pairs, same order
    graft.functions.PairExpansionFn.ensureRegistered(li.sparkSession)
    // the ~8x graft_pairs fan-out sits behind the order-key exchange,
    // which AQE re-coalesces to a handful of tasks at narrow tiers (the
    // r18 stage profile read the whole 147k-order -> 1.2M-pair explode
    // in 4 tasks, 2.3 CPU-s serialized) — spread it on the scan-side
    // witness (identity at scale, [[graft.ops.Spread.ifNarrowInput]])
    val pairs = graft.ops.Spread.ifNarrowInput(li, li
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps")),
        col("l_orderkey"))
      .select(explode(expr("graft_pairs(ps)")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("w"))
    // symmetrize in ONE pass over the aggregate (the g1EdgeRelationFrom
    // note): the union form ran the final (a, b) aggregate once per
    // direction — the r18 stage profile read 2× the pair exchange
    // (2 397 318 rows) into the checkpoint stage; explode(array(fwd,
    // rev)) halves the aggregated rows and reads the exchange once
    pairs.select(explode(array(
        struct(col("a").as("u"), col("b").as("v"), col("w")),
        struct(col("b").as("u"), col("a").as("v"), col("w")))).as("e"))
      .select(col("e.u"), col("e.v"), col("e.w"))
  }

  /** Distinct co-ordered part pairs (a < b) — the undirected edge set
    * g2 orients: the u<v half of [[coAdj]], so a persisted adjacency
    * table serves g2's edge derivation too.
    */
  private[graft] def coOrderEdges(s: SparkSession, d: String): DataFrame =
    coAdj(s, d).filter(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))

  /** g2: per-part triangle counts by compact-forward wedge closure.
    *
    * SERVED-TABLE POSTURE (r12 verdict #4, documented): g2 is the one
    * family member whose iteration relation still localCheckpoints
    * when the bucketed adjacency is served, and that is CORRECT, not
    * an oversight. The persisted table is bucketed on the UNDIRECTED
    * key `u`; g2's wedge joins run on the ORIENTED key `src` (each
    * edge flips direction by the degree comparison below), and the
    * orientation permutes roughly half the rows across buckets — no
    * scan layout can feed the `src`-keyed self-join exchange-free the
    * way g7's u-keyed wedge join is fed. What the served table DOES
    * buy g2 is the base build: [[coOrderEdges]] reads the bucketed
    * scan instead of re-aggregating lineitem (the fact-sized shuffle),
    * which is the 5.41→3.72 s cold→served drop BENCH r12 records. The
    * checkpoint then materializes the degree-joined oriented relation
    * ONCE for its three consumers (two wedge legs + the closer) —
    * recomputing the two degree joins thrice would cost more than the
    * checkpoint at every scale. Serving orientation itself would need
    * a THIRD persisted table bucketed on `src`; the wedge family's
    * measured byte law (SCALE_G78TABLE byte_drop 0.993+ comes from the
    * base-build elision) doesn't justify a second corpus-sized
    * artifact for one query. BucketedGraphSpec pins both halves:
    * served g2 is bit-identical and its base edges read the persisted
    * table (no lineitem re-aggregation), while the oriented relation
    * legitimately re-partitions.
    */
  def g2Triangles(s: SparkSession, d: String): DataFrame = {
    val edges = coOrderEdges(s, d)
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a->b iff (deg(a), a) < (deg(b), b); carry dst's rank key
    // for the wedge ordering
    val fwd = edges
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
                 col("db").as("dd")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"),
                   col("da").as("dd"))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.dd"))
      .localCheckpoint() // three consumers (two wedge legs + closer)
    // HASH joins, not sort-merge (r10, found at the 100x tier): the
    // wedge stream is the superlinear relation (O(m^1.5) rows), and an
    // SMJ closing join must SORT it — the sort spill of the scaled tier
    // (~100x wedges) exhausted a 70 GB disk before any result. With
    // shuffle_hash the build side is always the LINEAR fwd relation and
    // wedges only stream: produced by the first join, exchanged once on
    // the closing key, probed row-by-row — nothing wedge-sized is ever
    // sorted or buffered. Same rows either way; the physical choice is
    // what survives scale.
    val wedges = fwd.as("f1").hint("shuffle_hash").join(fwd.as("f2"),
        col("f1.src") === col("f2.src") &&
          (col("f1.dd") < col("f2.dd") ||
           (col("f1.dd") === col("f2.dd") && col("f1.dst") < col("f2.dst"))))
      .select(col("f1.src").as("u"), col("f1.dst").as("v"),
        col("f2.dst").as("w"))
    val tri = wedges.join(fwd.as("f3").hint("shuffle_hash"),
        col("v") === col("f3.src") && col("w") === col("f3.dst"))
      .select("u", "v", "w")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("tri"))
      .orderBy(desc("tri"), asc("part"))
      .limit(20)
  }

  /** g3: multi-source BFS hop distances (delta/frontier form) over the
    * co-ordered part graph — "how far is every part from the seed set",
    * the reachability primitive behind recommendation radii, blast-
    * radius analyses, and label propagation. Seeds are the 5 smallest
    * part ids in the edge set (deterministic); output is the hop
    * histogram (dist, n_parts, min/max part) for dist ≤ 4 — unreached
    * parts simply don't appear.
    *
    * Algorithm: textbook DELTA BFS. Per round, only the FRONTIER (parts
    * first reached last round) expands through the adjacency — an
    * equi-join on the part key — and an anti-join against the settled
    * set keeps just the newly reached parts. Settled/frontier are
    * node-sized relations checkpointed per round (the g1 lineage
    * materializer); re-expanding the whole settled set each round (the
    * naive min-propagation form) would cost O(rounds · reached·degree)
    * instead of each edge firing at most once per direction. At 100 TB
    * the adjacency is [[persistAdjacency]]'s bucketed table on `u`,
    * making every round's expansion exchange-free on the edge side
    * whenever the table is persisted and fresh.
    *
    * Integer-only; the DuckDB oracle runs a recursive CTE (UNION
    * dedup semantics bound the recursion) and takes min(dist) per
    * part — BFS layering and "first reached = min dist" agree.
    */
  private val MaxHops = 4
  def g3BfsDistance(s: SparkSession, d: String): DataFrame = {
    // undirected adjacency: [[coAdj]] (served bucketed table when
    // persisted — each hop's expansion join then runs exchange-free on
    // the edge side; else built+checkpointed once, never re-derived)
    val adj = coAdj(s, d).select("u", "v")
    val seeds = adj.select(col("u").as("part")).distinct()
      .orderBy("part").limit(5)
    bfsDistances(adj, seeds, MaxHops)
      .groupBy("dist")
      .agg(count(lit(1)).as("n_parts"),
        min("part").as("min_part"), max("part").as("max_part"))
      .orderBy("dist")
  }

  /** Library form of g3's core: minimum hop distance from `seeds`
    * (column `part`) for every node reachable within `maxHops`, over an
    * undirected adjacency `adj(u, v)` carrying BOTH directions of each
    * edge. Delta BFS — see [[g3BfsDistance]] for the per-round plan
    * shape. Output: (part, dist). Property-tested against a plain-Scala
    * BFS on random graphs (GraphPropertySpec).
    */
  def bfsDistances(adj: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    // ONE checkpoint job per round (r18, guide §1.2 driver overhead):
    // the frontier is just the settled rows stamped last round, so
    // checkpointing it separately ran a second eager job per hop for a
    // relation the settled checkpoint already materializes — filter
    // the checkpoint instead. Same rows, half the per-round jobs.
    var settled = seeds.select(col("part"))
      .withColumn("dist", lit(0L)).localCheckpoint()
    (1 to maxHops).foreach { i =>
      val frontier = settled.filter(col("dist") === lit(i - 1L))
      val reached = adj.join(frontier.select(col("part").as("u")), "u")
        .select(col("v").as("part")).distinct()
      val fresh = reached.join(settled.select("part"), Seq("part"), "left_anti")
        .withColumn("dist", lit(i.toLong))
      settled = settled.unionByName(fresh).localCheckpoint()
    }
    settled
  }

  /** g4: bounded-hop CHEAPEST paths (Bellman-Ford relaxation) from the
    * g3 seed set — the weighted twin of g3's unweighted BFS. Edge cost
    * = 1e6 div w (w = co-order count: frequently co-ordered part pairs
    * are "closer"), integer-exact, so the fixed relaxation count gives
    * bit-identical costs in any engine — the g1 determinism recipe
    * applied to shortest paths. A part's cost can DROP at a later hop
    * (a longer-but-cheaper path through strong edges), which is
    * exactly what separates this from g3.
    *
    * Plan shape: each of the 4 rounds is one edge-keyed join of the
    * node-sized cost vector + a min partial aggregation — |edges|
    * shuffled per round like g1's iteration, never re-derived (the
    * adjacency is checkpointed once — or served from
    * [[persistAdjacency]]'s bucketed table, which makes the per-round
    * join exchange-free on the edge side). The DuckDB
    * oracle unrolls the relaxation as chained CTEs (standard SQL
    * forbids aggregation in a recursive member — g1's reason).
    *
    * Output: the 100 cheapest reachable parts (cost, then part id —
    * total order).
    */
  private val RelaxRounds = 4
  def g4CheapestPath(s: SparkSession, d: String): DataFrame = {
    // symmetric weighted adjacency from [[coAdj]] (served bucketed
    // table when persisted); edge cost = 1e6 div w — a projection, so
    // the table scan's bucket layout still feeds each relaxation join
    val adj = coAdj(s, d)
      .select(col("u"), col("v"), expr("1000000L div w").as("cost"))
    val seeds = adj.select(col("u").as("node")).distinct()
      .orderBy("node").limit(5)
    cheapestPaths(adj, seeds, RelaxRounds)
      .select(col("node").as("part"), col("c").as("cost"))
      .orderBy(asc("cost"), asc("part"))
      .limit(100)
  }

  /** Library form of g4's core: minimum path cost from `seeds` (column
    * `node`) within `rounds` relaxation rounds, over a directed
    * weighted adjacency `adj(u, v, cost)` (carry both directions for an
    * undirected graph). Output: (node, c). Property-tested against a
    * plain-Scala Bellman-Ford on random graphs (GraphPropertySpec).
    *
    * DELTA Bellman-Ford (r10, the g3-frontier idea applied to
    * relaxation): only nodes whose cost IMPROVED last round expand
    * through the adjacency — a node with an unchanged cost already
    * propagated that exact value the round after it last improved, so
    * re-expanding it relaxes nothing new. Identical to full
    * re-expansion after the same round count (induction: after round
    * i, cost(v) ≤ the cheapest ≤i-edge path — each prefix of such a
    * path either improved its node, triggering the next hop's delta,
    * or an even cheaper known cost already propagated); the DuckDB
    * oracle unrolls the FULL form and hash-agrees. The edge-grain join
    * volume per round drops from |reached|·deg to |improved|·deg —
    * measured sf10 wall 102 s → 69.6 s (SCALE_G_R10.json) — while the
    * merge stays node-sized (union + min groupBy).
    */
  def cheapestPaths(adj: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    // ONE checkpoint job per round (r18, guide §1.2 driver overhead):
    // the old form ran two eager jobs per round (checkpoint `improved`,
    // then checkpoint the union+min merge that re-read it). A single
    // full-outer merge of the cost vector with the round's candidates
    // computes the same min AND the same improved set in one pass —
    // `imp` marks the rows the next round expands (the delta frontier,
    // exactly the old `improved` relation: new node, or a strictly
    // cheaper cost). Both sides of the merge are keyed unique (the
    // state is checkpointed unique; candidates are post-groupBy), so
    // the output stays one row per node — values identical, integer
    // min algebra untouched.
    var state = seeds.select(col("node"))
      .withColumn("c", lit(0L))
      .withColumn("imp", lit(true)).localCheckpoint()
    (1 to rounds).foreach { _ =>
      val delta = state.filter(col("imp")).select("node", "c")
      val candidate = adj.join(delta.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), (col("c") + col("cost")).as("nc"))
        .groupBy("node").agg(min("nc").as("nc"))
      state = state.select(col("node"), col("c").as("oc"))
        .join(candidate, Seq("node"), "full_outer")
        .select(col("node"), least(col("oc"), col("nc")).as("c"),
          (col("oc").isNull ||
            (col("nc").isNotNull && col("nc") < col("oc"))).as("imp"))
        .localCheckpoint()
    }
    state.select("node", "c")
  }

  /** g5: connected components of the STRONG co-order graph — the global
    * component structure the family lacked (r10 verdict #6: reachability,
    * paths, triangles, centrality — but no components). Edges are part
    * pairs co-ordered in ≥ [[MinCoOrders]] distinct orders: the
    * unthresholded co-order graph is connected by construction at every
    * scale (one giant component — a degenerate, meaningless histogram,
    * measured at sf0.01: all 2000 parts, one row), while the strong
    * graph fragments into the co-purchase CLUSTERS a recommender or
    * assortment analysis actually reads. The same weight threshold is
    * the standard noise-pruning step on co-occurrence graphs.
    *
    * Algorithm: [[graft.text.Dedup.connectedComponents]] — the
    * large-star/small-star contraction (Kiveris et al., SoCC'14),
    * O(log² n) rounds, already oracle-proven on the d5 dup-pair graph —
    * REUSED, not duplicated, over [[coAdj]]'s strong half (served
    * bucketed table when persisted). Output: the component-size
    * histogram (comp_size, n_components, min/max component label),
    * ordered by size — comp_size is unique per row, so the order is
    * total. Labels are component-minimum part ids (the contraction's
    * canonical center), mirrored exactly by the oracle's min-reachable
    * closure. The labeling is memoized per (session, tier) like d5's
    * ([[graft.text.Dedup.memoComponents]]): a warm call skips the
    * contraction fixpoint and runs only the two histogram aggregates.
    */
  private[graft] val MinCoOrders = 3
  def g5Components(s: SparkSession, d: String): DataFrame =
    graft.text.Dedup.memoComponents(s, d, "co_strong")(
      graft.text.Dedup.connectedComponents(coAdj(s, d)
        .filter(col("u") < col("v") && col("w") >= MinCoOrders)
        .select("u", "v")))
      .groupBy("component").agg(count(lit(1)).as("comp_size"))
      .groupBy("comp_size")
      .agg(count(lit(1)).as("n_components"),
        min("component").as("min_component"),
        max("component").as("max_component"))
      .orderBy("comp_size")

  /** g6: k-CORE extraction — the maximal subgraph where every part has
    * ≥ [[CoreK]] co-order neighbors inside it (Seidman's cohesion
    * measure; the standard "dense backbone" cut on co-occurrence
    * graphs, and the densification step before community detection or
    * embedding training). Distinct from degree filtering: a node with
    * 50 neighbors all of degree 1 is NOT cohesive, and the iterated
    * peel is what removes it. Runs on the w ≥ [[MinCoOrdersCore]]
    * co-order graph — the strong (w ≥ 3) graph is a near-forest at
    * every measured tier (its 3-core is empty) while the unthresholded
    * graph is so dense the peel never fires; w ≥ 2 is where the core
    * structure is non-degenerate (sf0.01: 935 of 1 880 nodes survive,
    * 10 peel rounds).
    *
    * Algorithm: textbook peel to FIXPOINT — drop every node whose
    * degree among survivors is < k, recompute, repeat until no node
    * drops. Each round is two node-set semi-joins against the edge set
    * (u alive, v alive) + one count aggregation; the survivor set is
    * node-sized and checkpointed per round (the g1 lineage
    * materializer), the edge set is scanned from [[coAdj]] — the
    * served bucketed table when persisted, making the u-side join
    * exchange-free per round. Termination reads ONE driver-side count
    * per round (survivors only shrink, so |next| = |live| detects the
    * fixpoint); rounds are O(peel depth), bounded by the degeneracy
    * ordering's longest chain — 10 at sf0.01, and the per-round cost
    * SHRINKS as the graph contracts.
    *
    * Output: every core member with its in-core degree (part unique →
    * total order). The DuckDB oracle unrolls [[CorePeelUnroll]] rounds
    * of the same peel (≥ the fixpoint depth at the oracle tier;
    * KCoreSpec pins convergence inside the unroll).
    */
  private val MinCoOrdersCore = 2
  private val CoreK = 3
  private[graft] val CorePeelUnroll = 16
  def g6Kcore(s: SparkSession, d: String): DataFrame = {
    val adj = coAdj(s, d)
      .filter(col("w") >= MinCoOrdersCore).select("u", "v")
    kCore(adj, CoreK)
      .select(col("node").as("part"), col("deg").as("core_deg"))
      .orderBy("part")
  }

  /** Library form of g6's core: the k-core of an undirected adjacency
    * `adj(u, v)` carrying BOTH directions of each edge. Output:
    * (node, deg) — the surviving nodes with their in-core degrees.
    * Property-tested against a plain-Scala peel on random graphs
    * (GraphPropertySpec).
    */
  def kCore(adj: DataFrame, k: Int): DataFrame = {
    var live = adj.select(col("u").as("node")).distinct()
      .localCheckpoint()
    var n = live.count()
    while (true) {
      // in-survivor degrees: both endpoints must still be alive. At the
      // fixpoint next == live, so these ARE the in-core degrees.
      val next = adj
        .join(live.select(col("node").as("u")), "u")
        .join(live.select(col("node").as("v")), "v")
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .localCheckpoint()
      val m = next.count()
      if (m == n || m == 0) return next
      n = m
      live = next.select("node")
    }
    throw new IllegalStateException("unreachable")
  }

  /** g7: LINK PREDICTION by neighborhood Jaccard — "which parts are
    * NOT yet co-ordered but share the most co-order neighbors", the
    * classic common-neighbors/Jaccard recommender primitive
    * (Liben-Nowell & Kleinberg 2003) and the graph family's predictive
    * query next to its descriptive ones. Runs on the w ≥
    * [[MinCoOrdersLink]] graph (g6's tier — the unthresholded co-order
    * graph is near-complete, leaving no non-edges worth ranking, and
    * its hub degrees make the wedge grain degenerate). Output: top-20
    * candidate pairs by Jaccard of their neighbor sets in integer ppm
    * (common·1e6 div (deg_a + deg_b − common)), total order (score
    * desc, pair asc).
    *
    * Plan shape: candidate pairs are WEDGES — two edges sharing a
    * center, the g2 grain — generated by one self-equi-join of the
    * adjacency on the center key with v_left < v_right halving; the
    * join immediately feeds a partial-aggregable count on the pair
    * key, so the exchange after the wedge join carries per-task
    * DISTINCT candidate partials, not raw wedges. shuffle_hash pinned
    * for the wedge join (the g2 lesson: the superlinear wedge stream
    * must never be SMJ-sorted — the linear adjacency builds, wedges
    * stream). Then one anti-join drops existing edges and two
    * node-sized degree joins price the union. Wedge volume is
    * Σ_w deg(w)²/2 on the THRESHOLDED graph — the weight threshold is
    * the production lever that bounds hub degree (same role as g5/g6's
    * threshold), and the honest law is quadratic in residual hub
    * degree, stated rather than hidden. At 100 TB the adjacency is
    * [[persistAdjacency]]'s bucketed table (u-bucketed = wedge-center
    * bucketed: the self-join runs exchange-free off the scan).
    *
    * Integer-only arithmetic; the DuckDB oracle mirrors every stage.
    */
  private val MinCoOrdersLink = 2
  def g7LinkPredict(s: SparkSession, d: String): DataFrame = {
    // Four consumers (two wedge legs, anti, degrees) — but NO extra
    // checkpoint here (ADVICE r11): [[coAdj]] already returns either the
    // served bucketed table (whose u-partitioning a localCheckpoint
    // would DISCARD, forcing the wedge self-join to exchange both sides)
    // or an already-checkpointed build; the filter+project on top is
    // a cheap per-consumer re-evaluation in both paths, and partition-
    // preserving, so the served scan feeds the self-join exchange-free.
    val adj = coAdj(s, d)
      .filter(col("w") >= MinCoOrdersLink).select("u", "v")
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    val wedges = adj.as("e1").hint("shuffle_hash").join(adj.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("a"), col("e2.v").as("b"))
    val common = wedges.groupBy("a", "b").agg(count(lit(1)).as("common"))
    common
      .join(adj.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
      .select(col("a").as("part_a"), col("b").as("part_b"), col("common"),
        expr("common * 1000000 div (da + db - common)").as("jaccard_ppm"))
      .orderBy(desc("jaccard_ppm"), asc("part_a"), asc("part_b"))
      .limit(20)
  }

  /** g8: COMMUNITY DETECTION by weighted label propagation (Raghavan
    * et al. 2007, synchronous variant) over the strong co-order graph —
    * the segmentation step the family's own docs position g5/g6 as
    * precursors to (components give the coarse islands; LPA splits them
    * into the co-purchase communities a recommender or assortment
    * planner actually targets). Runs on g5's tier (w ≥ [[MinCoOrders]])
    * so communities REFINE the measured component structure.
    *
    * Determinism contract (the g1 recipe), MONOTONE variant: labels
    * start as node ids; each of [[LpaRounds]] synchronous rounds every
    * node computes the label with the highest total EDGE WEIGHT among
    * its neighbors (ties broken by smallest label) and adopts it ONLY
    * if it is smaller than its current label. Monotonicity is what
    * makes synchronous LPA well-defined: the textbook synchronous
    * update OSCILLATES deterministically on symmetric structure (a
    * connected pair swaps labels every round forever — measured on
    * this corpus: the strong graph's 50 two-node components all came
    * out as 100 spurious singletons), while randomized/asynchronous
    * order — the usual fix — is exactly what a cross-engine bit-
    * identical contract cannot use. With labels non-increasing the
    * fixed round count is deterministic in any engine, communities
    * form around local label minima by vote plurality, and a label
    * never crosses a non-edge (communities refine g5's components by
    * construction). The DuckDB oracle unrolls the same rounds as
    * chained CTEs.
    *
    * Plan shape: g1's iteration — per round ONE edge⋈label equi-join
    * on `u` (the served bucketed table's key: exchange-free on the
    * edge side when [[persistAdjacency]]'s table is fresh; adjacency
    * symmetry lets the join stay on u while votes land on v) + one
    * (node,label)-keyed partial-agg sum + one node-keyed min-struct
    * argmax (partial-aggregable — no per-round window sort). Label
    * state is node-sized and checkpointed per round. Output: the
    * community-size histogram (size, count, min/max label), total
    * order on comm_size.
    */
  private val LpaRounds = 5

  /** Memoized LPA labels: g8, g9 (and any future community consumer)
    * share ONE propagation run per (session, tier-dir content) — the
    * bpeMemo recipe (r12 verdict #5: g9 re-ran the full 5-round LPA
    * after g8 had just computed identical labels, a 4.22 s cold-bench
    * cost whose useful part is two label-keyed aggs). Labels are a
    * corpus-build artifact exactly like t30's merges: deterministic
    * integer arithmetic off a deterministic adjacency, so a cache hit
    * is bit-identical to a re-run (GraphSpec pins it). The signature
    * covers the TIER DIRECTORY `d` — same over-invalidation posture as
    * [[persistAdjacency]], so the labels can never outlive the
    * adjacency they were propagated on; the state itself is the loop's
    * final localCheckpoint, so a hit costs nothing. Stopped sessions
    * sweep lazily.
    */
  private val lpaMemo =
    new graft.lake.SessionMemo[String, IndexedSeq[DataFrame]](identity)
  private[graft] def lpaStates(s: SparkSession, d: String): IndexedSeq[DataFrame] =
    lpaMemo(s, d, graft.lake.SessionMemo.signature(d))(
      labelPropagationStates(
        coAdj(s, d).filter(col("w") >= MinCoOrders), LpaRounds))
  private[graft] def lpaLabels(s: SparkSession, d: String): DataFrame =
    lpaStates(s, d).last

  /** The tier signature the memoized LPA states were propagated on —
    * the prevSig handle for [[warmLpaAfterAppend]], read BEFORE an
    * increment lands in the tier (the [[adjacencyStamp]] posture).
    */
  def lpaStamp(s: SparkSession, d: String): Option[String] =
    lpaMemo.peek(s, d).map(_._1)

  /** Memoized REFINED labels — the [[lpaLabels]] recipe one level up:
    * g11/g12/g13/g14 all consume the same deterministic local-move
    * round over the memoized LPA labels, and before this memo each of
    * the four re-ran it per query (~1–2 s of identical label joins
    * per bench pass). Same contract: keyed by (session, tier
    * signature), a hit is bit-identical to a re-run (integer
    * arithmetic off a deterministic adjacency — GraphSpec pins it),
    * staleness re-refines, state is one checkpointed node-sized frame.
    */
  private val refineMemo = new graft.lake.SessionMemo.Checkpointed
  private[graft] def refinedLabels(s: SparkSession, d: String): DataFrame =
    refineMemo(s, d)(louvainRefine(
      coAdj(s, d).filter(col("w") >= MinCoOrders), lpaLabels(s, d)))

  /** WARM-START LPA after an adjacency increment (r13 verdict #3a):
    * instead of re-running all [[LpaRounds]] rounds over the whole
    * grown graph (the memoized labels' tier signature changed, so the
    * next lpaLabels call recomputes from scratch), re-propagate ONLY
    * where the delta can have had any effect, reading the memoized
    * per-round states everywhere else — and the result is BIT-IDENTICAL
    * to the from-scratch run, by synchronous-iteration locality, not
    * an approximation: round i's label at node v depends only on round
    * i−1 labels within one hop, so after a delta touching node set D,
    * L'_i(v) can differ from the memoized L_i(v) only for v within i
    * hops of D. The warm pass therefore recomputes round i on the
    * i-hop frontier ball A_i (A_0 = D, A_i = A_{i−1} ∪ N(A_{i−1}) on
    * the grown graph) and stitches A_i's fresh labels over the
    * memoized round-i state. IncrementalIndexSpec pins warm ≡
    * from-scratch on the grown graph, and the downstream g8 histogram
    * bit-identical on either.
    *
    * Caller contract (the [[appendAdjacencyIncrement]] one): between
    * the memoized propagation (`prevSig` = [[lpaStamp]] then) and this
    * call, tier `d` changed by EXACTLY `deltaLineitem`'s new orders.
    * A stale prevSig throws — fall back to the full recompute
    * (lpaLabels does it implicitly on its next call).
    *
    * Cost shape: per round, one frontier expansion (edge semi-join)
    * plus a vote join RESTRICTED to ball destinations — O(ball edges
    * · rounds), not O(|E| · rounds) — GUARDED by a saturation bail:
    * the co-order graph is small-world, and INDEX_INCREMENT_R14
    * measured the unguarded warm pass at sf10 as 49.5 s against
    * 46.1 s for a plain re-propagation off the served adjacency (the
    * 5-hop ball covers most of the graph, so "restricted" was a full
    * round plus override machinery — strictly worse). Once the ball
    * exceeds half the nodes the pass falls back to the from-scratch
    * propagation (bit-identical by definition), capping warm-start's
    * downside at the seed + expansions already paid while keeping the
    * full locality win on graphs with genuine distance structure
    * (road networks, time-sliced citation graphs; the stitching path
    * is spec-driven on a path-graph fixture where the ball provably
    * stays ≪ half). Re-measured with the guard
    * (INDEX_INCREMENT_R14B, same session): sf10 warm 67.8 s vs
    * 124.1 s plain re-propagation vs 140.3 s from-parquet — warm is
    * never the worst option again. Threshold
    * crossings are safe conservatively: a pair whose merged weight
    * crossed [[MinCoOrders]] is itself a delta pair, so both
    * endpoints are in D.
    */
  def warmLpaAfterAppend(s: SparkSession, d: String,
      deltaLineitem: DataFrame, prevSig: String): DataFrame = {
    val cur = lpaMemo.peek(s, d).filter(_._1 == prevSig).getOrElse(
      throw new IllegalStateException(
        s"warmLpaAfterAppend($d): memoized LPA stamp " +
          s"${lpaMemo.peek(s, d).map(_._1)} != expected $prevSig — corpus " +
          "changed under the maintainer; fall back to a full recompute"))
    val touched = coOrderWeightedFrom(deltaLineitem)
      .select(col("u").as("node")).distinct()
    val adj = coAdj(s, d).filter(col("w") >= MinCoOrders)
    val states = warmLpaStates(adj, cur._2, touched)
    lpaMemo.put(s, d, graft.lake.SessionMemo.signature(d), states)
    states.last
  }

  /** The exact bounded re-propagation [[warmLpaAfterAppend]] documents:
    * `prior` is the full per-round state history on the pre-delta
    * graph; `touched` the delta-incident nodes; `adj` the GROWN
    * adjacency. Returns the grown graph's full state history.
    */
  private[graft] def warmLpaStates(adj: DataFrame,
      prior: IndexedSeq[DataFrame], touched: DataFrame): IndexedSeq[DataFrame] = {
    def overridden(base: DataFrame, upd: DataFrame): DataFrame =
      base.select(col("node"), col("label").as("ol"))
        .join(upd.select(col("node"), col("label").as("nl")),
          Seq("node"), "full_outer")
        .select(col("node"), coalesce(col("nl"), col("ol")).as("label"))
    val nodes = adj.select(col("u").as("node")).distinct().localCheckpoint()
    val nNodes = nodes.count()
    // D ∩ nodes(adj): a delta endpoint whose merged edges all sit
    // below the weight threshold is NOT a node of the propagation
    // graph — seeding it would add an isolated identity-labeled row
    // the from-scratch run never has (caught by the equivalence spec)
    var affected = touched.select("node").distinct()
      .join(nodes, Seq("node"), "left_semi")
      .localCheckpoint()
    // L'_0 is identity everywhere; new nodes enter through the override
    var state = overridden(prior(0),
      affected.withColumn("label", col("node"))).localCheckpoint()
    val out = IndexedSeq.newBuilder[DataFrame]
    out += state
    (1 until prior.size).foreach { i =>
      affected = affected.unionByName(
          adj.join(affected.withColumnRenamed("node", "u"), "u")
            .select(col("v").as("node")))
        .distinct().localCheckpoint()
      // SATURATION GUARD (INDEX_INCREMENT_R14's honesty lesson): on a
      // small-world graph the frontier ball can cover most of the
      // graph within a few hops, at which point the "restricted" vote
      // join is a full round PLUS the override machinery — measured
      // at sf10 as warm 49.5 s vs 46.1 s for a plain re-propagation,
      // i.e. strictly worse. Once the ball exceeds half the nodes,
      // bail to the plain from-scratch propagation (bit-identical by
      // definition): warm-start then costs at most the seed + the
      // expansions already paid, and keeps its full locality win on
      // graphs where the ball stays small. The count rides the
      // checkpoint just materialized.
      if (affected.count() * 2 > nNodes)
        return labelPropagationStates(adj, prior.size - 1)
      val proposal = adj
        .join(affected.select(col("node").as("v")), Seq("v"), "left_semi")
        .join(state.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), col("label"), col("w"))
        .groupBy("node", "label").agg(sum("w").as("votes"))
        .groupBy("node")
        .agg(min(struct((-col("votes")).as("nv"), col("label").as("label")))
          .as("m"))
        .select(col("node"), col("m.label").as("proposal"))
      val upd = state.join(affected, Seq("node"), "left_semi")
        .join(proposal, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("proposal"), col("label")))
            .as("label"))
      state = overridden(prior(i), upd).localCheckpoint()
      out += state
    }
    out.result()
  }

  def g8Communities(s: SparkSession, d: String): DataFrame = {
    lpaLabels(s, d)
      .groupBy("label").agg(count(lit(1)).as("comm_size"))
      .groupBy("comm_size")
      .agg(count(lit(1)).as("n_communities"),
        min("label").as("min_label"), max("label").as("max_label"))
      .orderBy("comm_size")
  }

  /** Library form of g8's core: `rounds` synchronous weighted-LPA
    * rounds over an undirected adjacency `adj(u, v, w)` carrying BOTH
    * directions of each edge. Output: (node, label). Property-tested
    * against a plain-Scala reference on random graphs
    * (GraphPropertySpec).
    */
  def labelPropagation(adj: DataFrame, rounds: Int): DataFrame =
    labelPropagationStates(adj, rounds).last

  /** [[labelPropagation]] with the full per-round state history
    * retained (states 0..rounds, each checkpointed) — the memo
    * [[warmLpaAfterAppend]]'s bounded re-propagation stitches against.
    * Keeping the history costs nothing extra: every round was already
    * checkpointed to truncate lineage.
    */
  private[graft] def labelPropagationStates(adj: DataFrame,
      rounds: Int): IndexedSeq[DataFrame] = {
    var labels = adj.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    val out = IndexedSeq.newBuilder[DataFrame]
    out += labels
    (1 to rounds).foreach { _ =>
      // plurality proposal per node: argmax Σw over neighbor labels,
      // min label on ties — a partial-aggregable min-struct, no window
      val proposal = adj.join(labels.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), col("label"), col("w"))
        .groupBy("node", "label").agg(sum("w").as("votes"))
        .groupBy("node")
        .agg(min(struct((-col("votes")).as("nv"), col("label").as("label")))
          .as("m"))
        .select(col("node"), col("m.label").as("proposal"))
      // monotone adopt: least(current, proposal) — see g8's docstring
      labels = labels.join(proposal, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("proposal"), col("label")))
            .as("label"))
        .localCheckpoint()
      out += labels
    }
    out.result()
  }

  /** g9: MODULARITY of g8's partition (Newman & Girvan 2004) — the
    * quality gauge community detection is judged by, per community:
    * Q_c = in_c/W − (deg_c/2W)², where W is total edge weight, in_c
    * the weight inside c and deg_c the weighted degree mass of c's
    * nodes. Positive Q_c = denser inside than the degree-preserving
    * random graph would predict; the scalar Q is the column sum, but
    * the per-community rows are what a curation pass reads (WHICH
    * segments are real vs. artifacts of the round budget).
    *
    * Integer contract, overflow-safe at ANY scale: the share
    * s = deg_c·1e6 div (2W) is ≤ 1e6 by construction, so s² ≤ 1e12
    * never overflows a bigint (squaring deg_c·1e6 FIRST would
    * overflow at W ≳ 3e6 — rejected form), and the scaling products
    * deg_c·1e6 / 2W themselves are computed in decimal(38,0) —
    * bigint arithmetic would silently wrap in Spark (non-ANSI) while
    * DuckDB raises once W exceeds ~4.6e12, the engine-asymmetric
    * failure mode ADVICE r12 named; decimal(38,0) pushes the bound to
    * W ~ 1e31 (the Sampling.toWeightBudget recipe). The oracle
    * mirrors with HUGEINT. Floors are mirrored by the oracle. Plan: the LPA
    * labels (node-sized) join the node-degree and edge relations —
    * two label-keyed partial aggs + one 1-row broadcast total; the
    * label join on the edge side is u-keyed, so the served bucketed
    * adjacency feeds it exchange-free like g8's rounds.
    */
  def g9Modularity(s: SparkSession, d: String): DataFrame =
    modularityOf(coAdj(s, d).filter(col("w") >= MinCoOrders),
      lpaLabels(s, d))

  /** g9's computation over an ARBITRARY (node, label) partition —
    * factored out so refinement passes (g11) and specs gauge any
    * partition with the same integer contract. `adj` carries both
    * directions of each edge.
    */
  private[graft] def modularityOf(adj: DataFrame,
      labels: DataFrame): DataFrame = {
    val edges = adj.filter(col("u") < col("v"))  // each edge once
    val wTot = edges.agg(sum("w").as("tw"))
    val deg = adj.groupBy(col("u").as("node")).agg(sum("w").as("wd"))
    val degC = deg.join(labels, "node")
      .groupBy("label")
      .agg(sum("wd").as("deg_w"), count(lit(1)).as("n_nodes"))
    val inC = edges
      .join(labels.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("node").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(sum("w").as("in_w"))
    degC.join(inC, Seq("label"), "left")
      .crossJoin(broadcast(wTot))
      .select(col("label").as("community"), col("n_nodes"),
        coalesce(col("in_w"), lit(0L)).as("internal_w"), col("deg_w"),
        (expr("cast(coalesce(in_w, 0) as decimal(38,0)) * 1000000 div tw") -
          expr("((cast(deg_w as decimal(38,0)) * 1000000" +
            "   div (2 * cast(tw as decimal(38,0))))" +
            " * (cast(deg_w as decimal(38,0)) * 1000000" +
            "   div (2 * cast(tw as decimal(38,0))))) div 1000000"))
          .as("q_contrib_ppm"))
      .orderBy("community")
  }

  /** g10: link prediction by the RESOURCE-ALLOCATION index (Zhou,
    * Lü & Zhang 2009) — g7's common-neighbor machinery with the
    * scoring recommenders actually prefer on skewed co-purchase
    * graphs: each shared neighbor contributes 1/deg(center), so a
    * promiscuous hub vouching for a pair counts almost nothing while
    * a rare co-purchase counts a lot (common-neighbor counting is
    * hub-dominated on heavy-tailed degree distributions). Integer
    * contract: per-wedge credit = 1e6 div deg(center), summed per
    * pair — order-independent bigint, floors mirrored by the oracle.
    *
    * Plan shape: identical to g7 (the wedge self-join on the served
    * u-bucketed adjacency, shuffle_hash pinned, partial-aggregable
    * pair reduction, one anti-join) with the center's degree attached
    * BEFORE the wedge join — a u-keyed join that rides the same
    * bucket layout exchange-free. Same Σdeg² wedge law, same weight
    * threshold as the production lever (g7's stated posture).
    */
  def g10ResourceAlloc(s: SparkSession, d: String): DataFrame = {
    val adj = coAdj(s, d).filter(col("w") >= MinCoOrdersLink).select("u", "v")
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    val adjd = adj.join(deg, "u")
    val wedges = adjd.as("e1").hint("shuffle_hash").join(adjd.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("a"), col("e2.v").as("b"),
        expr("1000000 div e1.deg").as("rc"))
    wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum("rc").as("ra_ppm"))
      .join(adj.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a").as("part_a"), col("b").as("part_b"), col("common"),
        col("ra_ppm"))
      .orderBy(desc("ra_ppm"), asc("part_a"), asc("part_b"))
      .limit(20)
  }

  /** One Louvain-style LOCAL-MOVE round (Blondel et al. 2008) over an
    * existing partition: every node evaluates moving into each
    * NEIGHBOR community and adopts the best strictly-positive
    * modularity gain, min-label on ties — the standard refinement step
    * after LPA (g8's communities are connectivity-driven; this is the
    * first move the modularity objective itself would make).
    *
    * Gain, exactly (no floors): for node i currently in a, candidate c,
    *   ΔQ(i→c) ∝ G = (k_ic − k_ia)·2W − deg_i·(deg_c − deg_a + deg_i)
    * where k_ix is i's edge mass into x and deg_x the community degree
    * mass — G is ΔQ scaled by the positive constant 2W², so sign and
    * ORDER are exact in integer arithmetic; computed in decimal(38,0)
    * (HUGEINT in the oracle) so no wrap at any W (g9's posture).
    * SYNCHRONOUS adopt: all gains are evaluated against the CURRENT
    * partition and applied at once — deterministic and relational,
    * the same one-shot update shape as g8's monotone round (sequential
    * Louvain's per-node ordering is not expressible cross-engine).
    * Synchronous moves lose sequential Louvain's per-move monotonicity
    * THEOREM, but each adopted move had strictly positive gain against
    * the evaluated state; GraphSpec measures the partition's exact
    * modularity BEFORE and AFTER on the corpus and pins the
    * non-decrease (via [[modularityOf]]'s machinery recomputed in
    * plain Scala).
    *
    * Plan shape: g8's vote-round skeleton exactly — the k_ic relation
    * is ONE edge⋈label equi-join on the served adjacency's bucket key
    * `u` (exchange-free edge side when the table is fresh) + one
    * (node, nlabel) partial agg; community masses are label-keyed
    * aggs of the node-sized degree relation; the argmax is the same
    * min-struct partial agg (no window over the candidate stream).
    */
  private[graft] def louvainRefine(adj: DataFrame,
      labels: DataFrame): DataFrame = {
    val deg = adj.groupBy(col("u").as("node")).agg(sum("w").as("wd"))
    val wTot = adj.filter(col("u") < col("v")).agg(sum("w").as("tw"))
    val degC = deg.join(labels, "node")
      .groupBy("label").agg(sum("wd").as("dc"))
    val kic = adj
      .join(labels.select(col("node").as("u"), col("label").as("nlabel")),
        "u")
      .groupBy(col("v").as("node"), col("nlabel"))
      .agg(sum("w").as("k"))
      .localCheckpoint() // two consumers: own-community mass + candidates
    val base = labels.join(deg, "node")
      .join(degC.select(col("label"), col("dc").as("dca")), "label")
      .join(kic.select(col("node").as("kn"), col("nlabel"),
          col("k").as("ka")),
        col("node") === col("kn") && col("nlabel") === col("label"), "left")
      .select(col("node"), col("label"), col("wd"), col("dca"),
        coalesce(col("ka"), lit(0L)).as("ka"))
    val cand = base.as("b")
      .join(kic.as("c"), col("b.node") === col("c.node") &&
        col("c.nlabel") =!= col("b.label"))
      .join(degC.select(col("label").as("nlabel"), col("dc").as("dcc")),
        "nlabel")
      .crossJoin(broadcast(wTot))
      .select(col("b.node").as("node"), col("nlabel"),
        expr("(cast(k as decimal(38,0)) - ka) * 2 * tw" +
          " - cast(wd as decimal(38,0)) * (dcc - dca + wd)").as("gain"))
    val best = cand
      .groupBy("node")
      .agg(min(struct((-col("gain")).as("ng"), col("nlabel").as("nlabel")))
        .as("m"))
      .filter(col("m.ng") < 0) // strictly positive gain only
      .select(col("node"), col("m.nlabel").as("proposal"))
    labels.join(best, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("proposal"), col("label")).as("label"))
  }

  /** g11: the refined community histogram — g8's output shape over the
    * partition after one local-move round, so the two are directly
    * comparable (and g9's gauge applies to either via
    * [[modularityOf]]). Labels come from the memoized LPA run.
    */
  def g11LouvainRefine(s: SparkSession, d: String): DataFrame =
    refinedLabels(s, d)
      .groupBy("label").agg(count(lit(1)).as("comm_size"))
      .groupBy("comm_size")
      .agg(count(lit(1)).as("n_communities"),
        min("label").as("min_label"), max("label").as("max_label"))
      .orderBy("comm_size")

  /** g12: the COMMUNITY GRAPH — Louvain's contraction artifact, built
    * over the refined partition (g11's labels): communities become
    * super-nodes, each original edge aggregates onto its
    * (community, community) pair. Self-pairs (comm_a = comm_b) are the
    * contraction's SELF-LOOPS — the internal mass the next Louvain
    * level must carry to keep modularity well-defined — and inter-pairs
    * are the community interaction map a curation pass reads ("which
    * segments actually trade with each other"). Top-20 by aggregated
    * weight, deterministic total order.
    *
    * Plan shape: the g9 inC skeleton — the u<v edge relation joins the
    * node-sized refined labels TWICE (u-keyed, riding the served
    * bucket layout on the edge side) and partial-aggregates onto the
    * community-pair domain (≪ edges); TakeOrderedAndProject for the
    * cut. Labels come from the memoized REFINED partition
    * ([[refinedLabels]]) — g11/g12/g13/g14 price one propagation AND
    * one gain round between all four per session.
    */
  def g12CommunityGraph(s: SparkSession, d: String): DataFrame = {
    val adj = coAdj(s, d).filter(col("w") >= MinCoOrders)
    val labels = refinedLabels(s, d)
    adj.filter(col("u") < col("v"))
      .join(labels.select(col("node").as("u"), col("label").as("la")), "u")
      .join(labels.select(col("node").as("v"), col("label").as("lb")), "v")
      .select(least(col("la"), col("lb")).as("comm_a"),
        greatest(col("la"), col("lb")).as("comm_b"), col("w"))
      .groupBy("comm_a", "comm_b")
      .agg(count(lit(1)).as("n_edges"), sum("w").as("total_w"))
      .orderBy(desc("total_w"), asc("comm_a"), asc("comm_b"))
      .limit(20)
  }

  /** The FULL contracted adjacency (g12's artifact un-truncated), in
    * [[louvainRefine]]'s self-loop convention: inter-community pairs
    * carry both directions; a community's internal mass rides ONE
    * (C, C, 2·in_C) row (degree grain — see the refine docstring).
    * Built from the same two label joins as g12 (u-keyed, riding the
    * served bucket layout) + the community-pair partial agg; the
    * output is community-pair-sized, ≪ edges.
    */
  private[graft] def contractedAdjacency(adj: DataFrame,
      labels: DataFrame): DataFrame = {
    val cg = adj.filter(col("u") < col("v"))
      .join(labels.select(col("node").as("u"), col("label").as("la")), "u")
      .join(labels.select(col("node").as("v"), col("label").as("lb")), "v")
      .select(least(col("la"), col("lb")).as("ca"),
        greatest(col("la"), col("lb")).as("cb"), col("w"))
      .groupBy("ca", "cb").agg(sum("w").as("w"))
    val inter = cg.filter(col("ca") =!= col("cb"))
    inter.select(col("ca").as("u"), col("cb").as("v"), col("w"))
      .unionByName(inter.select(col("cb").as("u"), col("ca").as("v"),
        col("w")))
      .unionByName(cg.filter(col("ca") === col("cb"))
        .select(col("ca").as("u"), col("cb").as("v"),
          (col("w") * 2).as("w")))
  }

  /** One agglomerative MERGE round over a contracted community graph
    * in [[contractedAdjacency]]'s convention — the level-2 move rule:
    * every community's best merge partner by EXACT pairwise modularity
    * gain  G(C, D) = 2W·w_CD − deg_C·deg_D  (ΔQ of merging C and D
    * scaled by the positive constant 2W² — sign and order exact in
    * integer arithmetic; decimal(38,0) against wrap, HUGEINT in the
    * oracle), adopted only for MUTUAL best pairs (C's best is D AND
    * D's best is C), merged label = min(C, D).
    *
    * WHY not [[louvainRefine]] run on the super-graph (the naive level
    * 2): synchronous node-grain adoption is only EMPIRICALLY monotone,
    * and on a tiny dense super-graph the pathology it risks actually
    * bites — measured at sf0.001, every one of 33 super-nodes proposed
    * a move at once and the round DECREASED exact modularity 0.3446 →
    * 0.3368 (gains are evaluated against a partition that no longer
    * exists once everyone moves). Mutual-best merging makes the
    * non-decrease a THEOREM: mutual-best pairs form a matching (best
    * is unique per community), so adopted merges touch disjoint
    * community pairs; Q is a sum of per-community terms, so the
    * round's total ΔQ is EXACTLY Σ of the adopted pair gains, each
    * strictly positive. Progress is pinned by the spec's fixture (the
    * corpus merges 33 → 23 communities at sf0.001): min-label
    * tie-breaks make the top positive pair mutual in practice.
    *
    * Returns (node = community, label = merged community). Plan: one
    * degree agg + one 1-row broadcast total + two community-keyed
    * joins + a min-struct argmax + the mutuality self-join — ALL on
    * the community-pair relation, ≪ the node graph.
    */
  private[graft] def mergeCommunitiesRound(adj2: DataFrame): DataFrame = {
    val deg2 = adj2.groupBy(col("u").as("node")).agg(sum("w").as("wd"))
    val wTot = adj2.filter(col("u") <= col("v"))
      .agg(sum(when(col("u") === col("v"), expr("w div 2"))
        .otherwise(col("w"))).as("tw"))
    val pairs = adj2.filter(col("u") < col("v"))
      .join(deg2.select(col("node").as("u"), col("wd").as("du")), "u")
      .join(deg2.select(col("node").as("v"), col("wd").as("dv")), "v")
      .crossJoin(broadcast(wTot))
      .select(col("u"), col("v"),
        expr("2 * cast(tw as decimal(38,0)) * w" +
          " - cast(du as decimal(38,0)) * dv").as("gain"))
    val cands = pairs.select(col("u").as("c"), col("v").as("p"), col("gain"))
      .unionByName(
        pairs.select(col("v").as("c"), col("u").as("p"), col("gain")))
    val best = cands.filter(col("gain") > 0)
      .groupBy("c")
      .agg(min(struct((-col("gain")).as("ng"), col("p").as("p"))).as("m"))
      .select(col("c"), col("m.p").as("bp"))
    val mutual = best.as("x")
      .join(best.as("y"),
        col("x.bp") === col("y.c") && col("y.bp") === col("x.c") &&
          col("x.c") < col("y.c"))
      .select(col("x.c").as("ca"), col("y.c").as("cb"))
    deg2.select(col("node"))
      .join(broadcast(mutual), col("node") === col("cb"), "left")
      .select(col("node"), coalesce(col("ca"), col("node")).as("label"))
  }

  /** g13: LOUVAIN LEVEL 2 (r13 verdict #4 — the hierarchy g12's
    * conservation properties exist for): contract g11's partition into
    * the community graph (g12's artifact, full — self-loops carrying
    * internal mass), run [[mergeCommunitiesRound]]'s provably-monotone
    * whole-community merge on it, map the community-of-community
    * labels back to the original nodes, and gauge the two-level
    * partition with [[modularityOf]] on the ORIGINAL graph (g9's
    * integer ppm contract). Because the contraction conserves edge
    * mass, degree mass, and total weight (GraphSpec pins all three), a
    * pair gain on the contracted graph IS the gain of merging those
    * two communities in the original graph — level 2 raises modularity
    * where level 1's node-grain moves could not (a node-at-a-time pass
    * sticks at local optima a community-at-a-time merge escapes;
    * that is Louvain's point). GraphSpec pins exact-modularity
    * non-decrease of the mapped-back partition vs g11's.
    *
    * Plan shape: the contraction is g12's (two u-keyed label joins
    * riding the served bucket layout + community-pair agg) and the
    * merge round runs entirely on the community-pair relation — orders
    * of magnitude smaller than the node graph, so the extra level
    * costs a fraction of level 1. The level-1 partition is the memoized
    * [[refinedLabels]], shared with g11/g12/g14 per session.
    */
  def g13LouvainLevel2(s: SparkSession, d: String): DataFrame = {
    val adj = coAdj(s, d).filter(col("w") >= MinCoOrders)
    val l1 = refinedLabels(s, d)
    val adj2 = contractedAdjacency(adj, l1).localCheckpoint()
    val l2c = mergeCommunitiesRound(adj2)
    val labels2 = l1
      .join(l2c.select(col("node").as("label"), col("label").as("l2")),
        "label")
      .select(col("node"), col("l2").as("label"))
    modularityOf(adj, labels2)
  }

  /** g14: the MULTILEVEL LOUVAIN HIERARCHY — [[g13LouvainLevel2]]'s
    * contract-and-merge step ITERATED [[MergeLevels]] times: each
    * level re-contracts the ORIGINAL graph under the current
    * partition and runs one mutual-best merge round on the community
    * graph, so communities coarsen level by level exactly as
    * sequential Louvain's outer loop coarsens them. Every level's
    * ΔQ = Σ of its adopted strictly-positive pair gains (the
    * [[mergeCommunitiesRound]] theorem), so modularity is
    * non-decreasing ACROSS the whole hierarchy — GraphSpec gauges
    * every level and pins the chain, including that the hierarchy
    * ends ≥ g13's single level. A converged level adopts nothing
    * (no positive mutual pair) and the remaining levels are
    * identities — the unroll count is a depth budget, not a
    * correctness knob. Output: g9's per-community gauge over the
    * final partition.
    *
    * Plan shape: per level, g12's contraction (two u-keyed label
    * joins riding the served bucket layout + community-pair agg) plus
    * the merge round on the community-pair relation — each level's
    * refine input is strictly smaller than the last, so the hierarchy
    * costs ≈ one contraction per level, all ≪ the node graph. The
    * level-1 partition is the memoized [[refinedLabels]], shared with
    * g11/g12/g13 per session.
    */
  private[graft] val MergeLevels = 3
  def g14LouvainHierarchy(s: SparkSession, d: String): DataFrame = {
    val adj = coAdj(s, d).filter(col("w") >= MinCoOrders)
    var labels = refinedLabels(s, d)
    (1 to MergeLevels).foreach { _ =>
      val merged = mergeCommunitiesRound(
        contractedAdjacency(adj, labels).localCheckpoint())
      labels = labels
        .join(merged.select(col("node").as("label"), col("label").as("l2")),
          "label")
        .select(col("node"), col("l2").as("label"))
        .localCheckpoint()
    }
    modularityOf(adj, labels)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g14_louvain_hierarchy" -> (g14LouvainHierarchy _),
    "g13_louvain_level2" -> (g13LouvainLevel2 _),
    "g12_community_graph" -> (g12CommunityGraph _),
    "g11_louvain_refine" -> (g11LouvainRefine _),
    "g10_resource_alloc" -> (g10ResourceAlloc _),
    "g9_modularity" -> (g9Modularity _),
    "g8_communities" -> (g8Communities _),
    "g7_link_predict" -> (g7LinkPredict _),
    "g1_pagerank" -> (g1Pagerank _),
    "g2_triangles" -> (g2Triangles _),
    "g3_bfs_distance" -> (g3BfsDistance _),
    "g4_cheapest_path" -> (g4CheapestPath _),
    "g5_components" -> (g5Components _),
    "g6_kcore" -> (g6Kcore _))

  /** The strong-graph LPA CTE chain (op…e…und…l0 + unrolled monotone
    * rounds ending in l[[LpaRounds]]) — the g1/g4 chained-CTE recipe;
    * SQL bans aggregation in a recursive member. QUALIFY's (votes
    * DESC, label ASC) row_number is the same argmax the Spark side
    * computes with a min-struct partial agg. Shared by the g8 and g9
    * oracles.
    */
  private lazy val lpaChainDuck: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT node, label AS proposal FROM (
         |    SELECT und.v AS node, l.label,
         |      CAST(sum(und.w) AS BIGINT) AS votes
         |    FROM und JOIN l${i - 1} l ON und.u = l.node
         |    GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (
         |    PARTITION BY node ORDER BY votes DESC, label ASC) = 1
         |), l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.label, COALESCE(p.proposal, l.label))
         |    AS label
         |  FROM l${i - 1} l LEFT JOIN p$i p ON l.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""op AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), pr AS (
       |  SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
       |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2
       |), e AS (
       |  SELECT a, b, w FROM pr WHERE w >= $MinCoOrders
       |), und AS MATERIALIZED (
       |  SELECT a AS u, b AS v, w FROM e UNION ALL SELECT b, a, w FROM e
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS node, u AS label FROM und
       |),
       |$rounds""".stripMargin
  }

  /** g11's gain round as CTEs ending in `ref(node, label)` — appended
    * to [[lpaChainDuck]]; shared by the g11 and g12 oracles.
    */
  private lazy val louvainChainDuck: String =
    s"""$lpaChainDuck,
       |deg AS (
       |  SELECT u AS node, CAST(sum(w) AS BIGINT) AS wd
       |  FROM und GROUP BY u
       |), twx AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM e),
       |degc AS (
       |  SELECT l.label, CAST(sum(d.wd) AS BIGINT) AS dc
       |  FROM deg d JOIN l$LpaRounds l ON d.node = l.node GROUP BY 1
       |), kic AS MATERIALIZED (
       |  SELECT und.v AS node, lu.label AS nlabel,
       |    CAST(sum(und.w) AS BIGINT) AS k
       |  FROM und JOIN l$LpaRounds lu ON und.u = lu.node GROUP BY 1, 2
       |), base AS (
       |  SELECT l.node, l.label, d.wd, dca.dc AS dca,
       |    COALESCE(k.k, 0) AS ka
       |  FROM l$LpaRounds l JOIN deg d ON d.node = l.node
       |       JOIN degc dca ON dca.label = l.label
       |       LEFT JOIN kic k ON k.node = l.node AND k.nlabel = l.label
       |), cand AS (
       |  SELECT b.node, c.nlabel,
       |    (CAST(c.k AS HUGEINT) - b.ka) * 2 * t.tw
       |      - CAST(b.wd AS HUGEINT) * (dcc.dc - b.dca + b.wd) AS gain
       |  FROM base b JOIN kic c ON c.node = b.node AND c.nlabel <> b.label
       |       JOIN degc dcc ON dcc.label = c.nlabel
       |       CROSS JOIN twx t
       |), best AS (
       |  SELECT node, nlabel FROM (
       |    SELECT node, nlabel, gain, row_number() OVER (
       |      PARTITION BY node ORDER BY gain DESC, nlabel ASC) AS rn
       |    FROM cand)
       |  WHERE rn = 1 AND gain > 0
       |), ref AS MATERIALIZED (
       |  SELECT b.node, COALESCE(best.nlabel, b.label) AS label
       |  FROM base b LEFT JOIN best ON best.node = b.node
       |)""".stripMargin

  /** g13's level-2 chain: [[louvainChainDuck]]'s `ref` contracted into
    * the community graph (self-loops at degree grain, 2·in — the
    * [[contractedAdjacency]] convention), the mutual-best pairwise
    * merge round run on it (exact pair gain 2W·w_CD − deg_C·deg_D in
    * HUGEINT; row_number's (gain DESC, p ASC) is the Spark side's
    * min-struct argmax), and the merged labels mapped back to nodes as
    * `ref2(node, label)`.
    */
  private lazy val level2ChainDuck: String =
    s"""$louvainChainDuck,
       |cg AS MATERIALIZED (
       |  SELECT least(la.label, lb.label) AS ca,
       |    greatest(la.label, lb.label) AS cb,
       |    CAST(sum(e.w) AS BIGINT) AS w
       |  FROM e JOIN ref la ON e.a = la.node
       |         JOIN ref lb ON e.b = lb.node
       |  GROUP BY 1, 2
       |), adj2 AS MATERIALIZED (
       |  SELECT ca AS u, cb AS v, w FROM cg WHERE ca <> cb
       |  UNION ALL SELECT cb, ca, w FROM cg WHERE ca <> cb
       |  UNION ALL SELECT ca, ca, 2 * w FROM cg WHERE ca = cb
       |), deg2 AS (
       |  SELECT u AS node, CAST(sum(w) AS BIGINT) AS wd
       |  FROM adj2 GROUP BY 1
       |), tw2x AS (
       |  SELECT CAST(sum(CASE WHEN u = v THEN w // 2 ELSE w END)
       |    AS BIGINT) AS tw
       |  FROM adj2 WHERE u <= v
       |), pg AS (
       |  SELECT a.u, a.v,
       |    2 * CAST(t.tw AS HUGEINT) * a.w
       |      - CAST(du.wd AS HUGEINT) * dv.wd AS gain
       |  FROM adj2 a JOIN deg2 du ON du.node = a.u
       |       JOIN deg2 dv ON dv.node = a.v
       |       CROSS JOIN tw2x t
       |  WHERE a.u < a.v
       |), cand2 AS (
       |  SELECT u AS c, v AS p, gain FROM pg
       |  UNION ALL SELECT v, u, gain FROM pg
       |), best2 AS (
       |  SELECT c, p FROM (
       |    SELECT c, p, gain, row_number() OVER (
       |      PARTITION BY c ORDER BY gain DESC, p ASC) AS rn
       |    FROM cand2 WHERE gain > 0)
       |  WHERE rn = 1
       |), mutual AS (
       |  SELECT x.c AS ca, y.c AS cb FROM best2 x JOIN best2 y
       |  ON x.p = y.c AND y.p = x.c AND x.c < y.c
       |), ref2c AS (
       |  SELECT d.node, COALESCE(m.ca, d.node) AS label
       |  FROM deg2 d LEFT JOIN mutual m ON d.node = m.cb
       |), ref2 AS MATERIALIZED (
       |  SELECT r.node, r2.label
       |  FROM ref r JOIN ref2c r2 ON r.label = r2.node
       |)""".stripMargin

  /** One g14 merge level as CTEs: contract the ORIGINAL edge set under
    * `refL{i-1}`, run the mutual-best merge, and chain the composed
    * labels as `refL{i}` — the [[level2ChainDuck]] block suffixed and
    * iterated (refL0 aliases the louvainChain's `ref`).
    */
  private def mergeLevelDuck(i: Int): String = {
    val prev = if (i == 1) "ref" else s"refL${i - 1}"
    s"""cg$i AS MATERIALIZED (
       |  SELECT least(la.label, lb.label) AS ca,
       |    greatest(la.label, lb.label) AS cb,
       |    CAST(sum(e.w) AS BIGINT) AS w
       |  FROM e JOIN $prev la ON e.a = la.node
       |         JOIN $prev lb ON e.b = lb.node
       |  GROUP BY 1, 2
       |), adjL$i AS MATERIALIZED (
       |  SELECT ca AS u, cb AS v, w FROM cg$i WHERE ca <> cb
       |  UNION ALL SELECT cb, ca, w FROM cg$i WHERE ca <> cb
       |  UNION ALL SELECT ca, ca, 2 * w FROM cg$i WHERE ca = cb
       |), degL$i AS (
       |  SELECT u AS node, CAST(sum(w) AS BIGINT) AS wd
       |  FROM adjL$i GROUP BY 1
       |), twL$i AS (
       |  SELECT CAST(sum(CASE WHEN u = v THEN w // 2 ELSE w END)
       |    AS BIGINT) AS tw
       |  FROM adjL$i WHERE u <= v
       |), pgL$i AS (
       |  SELECT a.u, a.v,
       |    2 * CAST(t.tw AS HUGEINT) * a.w
       |      - CAST(du.wd AS HUGEINT) * dv.wd AS gain
       |  FROM adjL$i a JOIN degL$i du ON du.node = a.u
       |       JOIN degL$i dv ON dv.node = a.v
       |       CROSS JOIN twL$i t
       |  WHERE a.u < a.v
       |), candL$i AS (
       |  SELECT u AS c, v AS p, gain FROM pgL$i
       |  UNION ALL SELECT v, u, gain FROM pgL$i
       |), bestL$i AS (
       |  SELECT c, p FROM (
       |    SELECT c, p, gain, row_number() OVER (
       |      PARTITION BY c ORDER BY gain DESC, p ASC) AS rn
       |    FROM candL$i WHERE gain > 0)
       |  WHERE rn = 1
       |), mutL$i AS (
       |  SELECT x.c AS ca, y.c AS cb FROM bestL$i x JOIN bestL$i y
       |  ON x.p = y.c AND y.p = x.c AND x.c < y.c
       |), mrgL$i AS (
       |  SELECT d.node, COALESCE(m.ca, d.node) AS label
       |  FROM degL$i d LEFT JOIN mutL$i m ON d.node = m.cb
       |), refL$i AS MATERIALIZED (
       |  SELECT r.node, m.label
       |  FROM $prev r JOIN mrgL$i m ON r.label = m.node
       |)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "g14_louvain_hierarchy" ->
      s"""WITH $louvainChainDuck,
         |${(1 to MergeLevels).map(mergeLevelDuck).mkString(",\n")},
         |degc4 AS (
         |  SELECT l.label, CAST(sum(d.wd) AS BIGINT) AS deg_w,
         |    CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM deg d JOIN refL$MergeLevels l ON d.node = l.node GROUP BY 1
         |), inc4 AS (
         |  SELECT la.label, CAST(sum(e.w) AS BIGINT) AS in_w
         |  FROM e JOIN refL$MergeLevels la ON e.a = la.node
         |         JOIN refL$MergeLevels lb ON e.b = lb.node
         |  WHERE la.label = lb.label GROUP BY 1
         |)
         |SELECT degc4.label AS community, n_nodes,
         |  CAST(COALESCE(in_w, 0) AS BIGINT) AS internal_w, deg_w,
         |  CAST(CAST(COALESCE(in_w, 0) AS HUGEINT) * 1000000 // t.tw
         |    - ((CAST(deg_w AS HUGEINT) * 1000000
         |        // (2 * CAST(t.tw AS HUGEINT)))
         |       * (CAST(deg_w AS HUGEINT) * 1000000
         |          // (2 * CAST(t.tw AS HUGEINT)))) // 1000000
         |    AS BIGINT) AS q_contrib_ppm
         |FROM degc4 LEFT JOIN inc4 USING (label) CROSS JOIN twx t
         |ORDER BY community""".stripMargin,
    "g13_louvain_level2" ->
      s"""WITH $level2ChainDuck,
         |degc3 AS (
         |  SELECT l.label, CAST(sum(d.wd) AS BIGINT) AS deg_w,
         |    CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM deg d JOIN ref2 l ON d.node = l.node GROUP BY 1
         |), inc3 AS (
         |  SELECT la.label, CAST(sum(e.w) AS BIGINT) AS in_w
         |  FROM e JOIN ref2 la ON e.a = la.node
         |         JOIN ref2 lb ON e.b = lb.node
         |  WHERE la.label = lb.label GROUP BY 1
         |)
         |SELECT degc3.label AS community, n_nodes,
         |  CAST(COALESCE(in_w, 0) AS BIGINT) AS internal_w, deg_w,
         |  CAST(CAST(COALESCE(in_w, 0) AS HUGEINT) * 1000000 // t.tw
         |    - ((CAST(deg_w AS HUGEINT) * 1000000
         |        // (2 * CAST(t.tw AS HUGEINT)))
         |       * (CAST(deg_w AS HUGEINT) * 1000000
         |          // (2 * CAST(t.tw AS HUGEINT)))) // 1000000
         |    AS BIGINT) AS q_contrib_ppm
         |FROM degc3 LEFT JOIN inc3 USING (label) CROSS JOIN twx t
         |ORDER BY community""".stripMargin,
    "g12_community_graph" ->
      s"""WITH $louvainChainDuck
         |SELECT least(la.label, lb.label) AS comm_a,
         |  greatest(la.label, lb.label) AS comm_b,
         |  CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(e.w) AS BIGINT) AS total_w
         |FROM e JOIN ref la ON e.a = la.node
         |       JOIN ref lb ON e.b = lb.node
         |GROUP BY 1, 2
         |ORDER BY total_w DESC, comm_a, comm_b LIMIT 20""".stripMargin,
    "g11_louvain_refine" ->
      s"""WITH $louvainChainDuck
         |SELECT comm_size, CAST(count(*) AS BIGINT) AS n_communities,
         |  CAST(min(label) AS BIGINT) AS min_label,
         |  CAST(max(label) AS BIGINT) AS max_label
         |FROM (SELECT label, CAST(count(*) AS BIGINT) AS comm_size
         |      FROM ref GROUP BY label)
         |GROUP BY comm_size ORDER BY comm_size""".stripMargin,
    "g10_resource_alloc" ->
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), pr AS (
         |  SELECT x.pk AS a, y.pk AS b, count(*) AS w
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2
         |), e AS (
         |  SELECT a, b FROM pr WHERE w >= $MinCoOrdersLink
         |), und AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
         |), deg AS (
         |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
         |), wg AS (
         |  SELECT e1.v AS a, e2.v AS b,
         |    CAST(count(*) AS BIGINT) AS common,
         |    CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_ppm
         |  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
         |       JOIN deg d ON d.u = e1.u
         |  GROUP BY 1, 2
         |), ne AS (
         |  SELECT wg.* FROM wg ANTI JOIN und ON wg.a = und.u AND wg.b = und.v
         |)
         |SELECT a AS part_a, b AS part_b, common, ra_ppm
         |FROM ne ORDER BY ra_ppm DESC, part_a ASC, part_b ASC
         |LIMIT 20""".stripMargin,
    "g9_modularity" ->
      s"""WITH $lpaChainDuck,
         |deg AS (
         |  SELECT u AS node, CAST(sum(w) AS BIGINT) AS wd
         |  FROM und GROUP BY u
         |), tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM e),
         |degc AS (
         |  SELECT l.label, CAST(sum(d.wd) AS BIGINT) AS deg_w,
         |    CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM deg d JOIN l$LpaRounds l ON d.node = l.node GROUP BY 1
         |), inc AS (
         |  SELECT la.label, CAST(sum(e.w) AS BIGINT) AS in_w
         |  FROM e JOIN l$LpaRounds la ON e.a = la.node
         |         JOIN l$LpaRounds lb ON e.b = lb.node
         |  WHERE la.label = lb.label GROUP BY 1
         |)
         |SELECT degc.label AS community, n_nodes,
         |  CAST(COALESCE(in_w, 0) AS BIGINT) AS internal_w, deg_w,
         |  CAST(CAST(COALESCE(in_w, 0) AS HUGEINT) * 1000000 // tw
         |    - ((CAST(deg_w AS HUGEINT) * 1000000
         |        // (2 * CAST(tw AS HUGEINT)))
         |       * (CAST(deg_w AS HUGEINT) * 1000000
         |          // (2 * CAST(tw AS HUGEINT)))) // 1000000
         |    AS BIGINT) AS q_contrib_ppm
         |FROM degc LEFT JOIN inc USING (label) CROSS JOIN tw
         |ORDER BY community""".stripMargin,
    "g8_communities" ->
      s"""WITH $lpaChainDuck
         |SELECT comm_size, CAST(count(*) AS BIGINT) AS n_communities,
         |  CAST(min(label) AS BIGINT) AS min_label,
         |  CAST(max(label) AS BIGINT) AS max_label
         |FROM (SELECT label, CAST(count(*) AS BIGINT) AS comm_size
         |      FROM l$LpaRounds GROUP BY label)
         |GROUP BY comm_size ORDER BY comm_size""".stripMargin,
    "g7_link_predict" ->
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), pr AS (
         |  SELECT x.pk AS a, y.pk AS b, count(*) AS w
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2
         |), e AS (
         |  SELECT a, b FROM pr WHERE w >= $MinCoOrdersLink
         |), und AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
         |), deg AS (
         |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
         |), cm AS (
         |  SELECT e1.v AS a, e2.v AS b, CAST(count(*) AS BIGINT) AS common
         |  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
         |  GROUP BY 1, 2
         |), ne AS (
         |  SELECT cm.* FROM cm ANTI JOIN und ON cm.a = und.u AND cm.b = und.v
         |)
         |SELECT ne.a AS part_a, ne.b AS part_b, ne.common,
         |  CAST(ne.common * 1000000 // (da.deg + db.deg - ne.common)
         |    AS BIGINT) AS jaccard_ppm
         |FROM ne JOIN deg da ON ne.a = da.u JOIN deg db ON ne.b = db.u
         |ORDER BY jaccard_ppm DESC, part_a ASC, part_b ASC
         |LIMIT 20""".stripMargin,
    "g6_kcore" -> {
      // unrolled peel: c_i = nodes of c_{i-1} with in-survivor degree
      // >= k (SQL aggregation is banned in a recursive member — the g4
      // unroll recipe). CorePeelUnroll rounds >= the fixpoint depth at
      // the oracle tier (sf0.01: 10), so c_last == the fixpoint;
      // KCoreSpec asserts convergence stays inside the unroll.
      // every c_i is referenced TWICE by c_{i+1}: without MATERIALIZED,
      // CTE inlining expands the chain 2^CorePeelUnroll times (observed:
      // file-handle exhaustion re-opening lineitem.parquet)
      val peel = (1 to CorePeelUnroll).map { i =>
        s"""c$i AS MATERIALIZED (
           |  SELECT d.u AS node, CAST(count(*) AS BIGINT) AS deg
           |  FROM und d JOIN c${i - 1} a ON d.u = a.node
           |             JOIN c${i - 1} b ON d.v = b.node
           |  GROUP BY d.u HAVING count(*) >= $CoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), pr AS (
         |  SELECT x.pk AS a, y.pk AS b, count(*) AS w
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2
         |), e AS (
         |  SELECT a, b FROM pr WHERE w >= $MinCoOrdersCore
         |), und AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
         |), c0 AS MATERIALIZED (
         |  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS deg FROM und
         |),
         |$peel
         |SELECT node AS part, deg AS core_deg FROM c$CorePeelUnroll
         |ORDER BY part""".stripMargin
    },
    "g5_components" ->
      s"""WITH RECURSIVE op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), pr AS (
         |  SELECT x.pk AS a, y.pk AS b, count(*) AS w
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2
         |), e AS (
         |  SELECT a, b FROM pr WHERE w >= $MinCoOrders
         |), und AS (
         |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
         |), reach(id, r) AS (
         |  SELECT u, u FROM und
         |  UNION
         |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id
         |), comp AS (
         |  SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id
         |), sizes AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS comp_size
         |  FROM comp GROUP BY 1
         |)
         |SELECT comp_size, CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(min(component) AS BIGINT) AS min_component,
         |  CAST(max(component) AS BIGINT) AS max_component
         |FROM sizes GROUP BY 1 ORDER BY comp_size""".stripMargin,
    "g4_cheapest_path" -> {
      val relax = (1 to RelaxRounds).map { i =>
        s"""r$i AS (
           |  SELECT node, CAST(min(c) AS BIGINT) AS c FROM (
           |    SELECT node, c FROM r${i - 1}
           |    UNION ALL
           |    SELECT adj.v AS node, r.c + adj.cost AS c
           |    FROM r${i - 1} r JOIN adj ON adj.u = r.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), pr AS (
         |  SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
         |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2
         |), adj AS (
         |  SELECT a AS u, b AS v, CAST(1000000 // w AS BIGINT) AS cost FROM pr
         |  UNION ALL
         |  SELECT b AS u, a AS v, CAST(1000000 // w AS BIGINT) AS cost FROM pr
         |), seeds AS (
         |  SELECT DISTINCT u AS node FROM adj ORDER BY 1 LIMIT 5
         |), r0 AS (
         |  SELECT node, CAST(0 AS BIGINT) AS c FROM seeds
         |),
         |$relax
         |SELECT node AS part, c AS cost FROM r$RelaxRounds
         |ORDER BY cost ASC, part ASC LIMIT 100""".stripMargin
    },
    "g3_bfs_distance" ->
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
        |), adj AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
        |), seeds AS (
        |  SELECT DISTINCT u AS part FROM adj ORDER BY 1 LIMIT 5
        |), bfs(part, dist) AS (
        |  SELECT part, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT adj.v AS part, bfs.dist + 1 AS dist
        |  FROM bfs JOIN adj ON adj.u = bfs.part
        |  WHERE bfs.dist < 4
        |), md AS (
        |  SELECT part, CAST(min(dist) AS BIGINT) AS dist FROM bfs GROUP BY 1
        |)
        |SELECT dist, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(min(part) AS BIGINT) AS min_part,
        |  CAST(max(part) AS BIGINT) AS max_part
        |FROM md GROUP BY 1 ORDER BY dist""".stripMargin,
    "g2_triangles" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1
        |), fwd AS (
        |  SELECT
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
        |         THEN a ELSE b END AS src,
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
        |         THEN b ELSE a END AS dst,
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
        |         THEN d2.deg ELSE d1.deg END AS dd
        |  FROM e JOIN deg d1 ON e.a = d1.node JOIN deg d2 ON e.b = d2.node
        |), wedges AS (
        |  SELECT f1.src AS u, f1.dst AS v, f2.dst AS w
        |  FROM fwd f1 JOIN fwd f2 ON f1.src = f2.src
        |    AND (f1.dd < f2.dd OR (f1.dd = f2.dd AND f1.dst < f2.dst))
        |), tri AS (
        |  SELECT u, v, w FROM wedges
        |  JOIN fwd f3 ON v = f3.src AND w = f3.dst
        |)
        |SELECT part, CAST(count(*) AS BIGINT) AS tri FROM (
        |  SELECT u AS part FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri)
        |GROUP BY 1 ORDER BY tri DESC, part ASC LIMIT 20""".stripMargin,
    "g1_pagerank" -> {
      val iter = (1 to Iterations).map { i =>
        s"""r$i AS (
           |  SELECT ew.dst AS node,
           |    CAST(150000 + sum(r.rank * 85 * ew.w // (100 * ew.wout))
           |      AS BIGINT) AS rank
           |  FROM ew JOIN r${i - 1} r ON ew.src = r.node
           |  GROUP BY ew.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT o_custkey AS ck, l_suppkey AS sk,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT ck * 2 AS src, sk * 2 + 1 AS dst, w FROM e0
         |  UNION ALL
         |  SELECT sk * 2 + 1 AS src, ck * 2 AS dst, w FROM e0),
         |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout
         |       FROM edges GROUP BY 1),
         |ew AS (SELECT e.src, e.dst, e.w, o.wout
         |       FROM edges e JOIN ow o USING (src)),
         |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank
         |       FROM ow),
         |$iter
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  CAST(node // 2 AS BIGINT) AS entity_key,
         |  rank AS rank_ppm
         |FROM r$Iterations
         |ORDER BY rank_ppm DESC, node_type, entity_key
         |LIMIT 100""".stripMargin
    })
}
