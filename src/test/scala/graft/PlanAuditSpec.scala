package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.Dedup
import graft.sim.Similarity
import scala.jdk.CollectionConverters._

/** Physical-plan audit for the at-scale properties of the round-2
  * operators: exchange reuse on self-joins (the signature computation
  * must run once, not once per join side) and scan pruning.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  test("LSH self-joins reuse the signature exchange (compute once, not twice)") {
    Seq(
      "d2" -> Dedup.d2MinhashLsh(spark, sf),
      "d3" -> Dedup.d3Simhash(spark, sf)
    ).foreach { case (name, df) =>
      df.collect() // AQE materializes stage reuse at runtime
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("reused"),
        s"$name does not reuse the self-join exchange:\n$plan")
      // and the join is the scale-safe symmetric-shuffle form, not a
      // broadcast of the full corpus's band/bucket table
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"$name self-join is not a shuffle join:\n$plan")
    }
  }

  test("fused s2 self-join consumes the pre-partitioned index: zero exchanges at pair grain") {
    // r9 score-in-join restructure: the cached float bucket index is
    // persisted hash-partitioned on (tbl, bk), so the self-join plans
    // with NO exchange on either side — the only shuffles left are the
    // distinct-top-k aggregation (≤3 rows per (task, query)) and the
    // output sort. An exchange count above 3 means a pair-grain
    // exchange crept back in.
    val df = Similarity.s2AnnLsh(spark, sf)
    df.collect() // materialize the final AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"s2 self-join is not a shuffle-consuming join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"s2 went all-pairs:\n$plan")
    val n = TestSpark.countShuffles(df)
    assert(n <= 3,
      s"s2 exchange count grew to $n (topk agg + output sort expected):\n$plan")
  }

  test("j1 final AQE plan broadcasts the customer side at sf0.1 (r2 bench-regression adjudication)") {
    // r2's j1 0.72→6.12 s was flagged as unexplained. Two back-to-back
    // r3 bench runs measured 0.63 s / 0.49 s with no code change — the
    // 6 s was a one-off environmental stall (Bench now reports
    // min-of-2). This pins the plan side: under the default threshold,
    // the sf0.1 customer side (~15k rows) must broadcast.
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01).exists())
    val df = graft.queries.CoreQueries.j1JoinBroadcastAgg(spark, sf01)
    df.collect() // materialize the FINAL adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"customer side not broadcast in the final sf0.1 plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"unexpected sort-merge join at sf0.1:\n$plan")
  }

  test("raw-zone date filter prunes partitions (the pruning the reference misses, SURVEY 4)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    Seq(("A", 1L), ("B", 2L)).toDF("cod", "qtde_teorica")
      .write.mode("overwrite").parquet(s"$dir/ano=2025/mes=07/dia=31")
    Seq(("C", 3L)).toDF("cod", "qtde_teorica")
      .write.mode("overwrite").parquet(s"$dir/ano=2025/mes=08/dia=01")
    val df = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("mes") === "08")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(mes"),
      s"mes filter not applied as a partition filter:\n$plan")
    assert(df.count() == 1)
    // the scan must list only the matching partition's file
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("mes=07") || scanned.contains("..."),
      s"pruned partition still listed:\n$scanned")
  }

  test("w6 range-rolling plans ONE hash exchange shared by agg and window (r3 verdict #1)") {
    // r3's plan exchanged on (l_suppkey, day) for the agg and AGAIN on
    // l_suppkey for the window. The repartition(l_suppkey) form gives a
    // partitioning that satisfies both, so the final plan must contain
    // exactly 2 shuffles: the supplier hash exchange + the output
    // orderBy's range exchange. This shape measured 1.30 s vs 1.73 s at
    // sf0.1 (PROGRESS r4).
    val df = graft.queries.CoreQueries.w6RangeRolling(spark, sf)
    val n = TestSpark.countShuffles(df) // final AQE plan via noop write
    assert(n == 2,
      s"expected 2 exchanges (supplier hash + output sort), got $n:\n" +
        df.queryExecution.executedPlan.toString)
    // the exposed form switch (r5 verdict #8): the map-side-combine form
    // pays one more exchange but must be ROW-IDENTICAL — the choice is a
    // density heuristic (rows per (supplier, day)), never a semantics one
    val combine = graft.queries.CoreQueries
      .w6RangeRolling(spark, sf, mapSideCombine = true)
    assert(TestSpark.countShuffles(combine) == 3,
      "map-side-combine form should plan (supp,day) agg + supp window + sort")
    assert(combine.collect().toSeq == df.collect().toSeq,
      "the two w6 forms diverged")
  }

  test("selective dim filter prunes fact partitions at RUNTIME (dynamic partition pruning, r3 verdict #4)") {
    // Static pruning (test above) needs the literal in the query. At
    // 100 TB the common shape is j4's: the partition values come from a
    // FILTERED DIM, known only at runtime — DPP must inject a
    // dynamicpruningexpression into the fact scan so the other
    // partitions' files are never listed into tasks. The reference's
    // (acao, created_at)-partitioned refined zone is the analogue.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    (1 to 3).foreach { d =>
      graft.lake.Lake.writeRawDaily(
        Seq((s"C$d", d.toLong)).toDF("cod", "qtde_teorica"),
        dir, java.time.LocalDate.of(2025, 8, d))
    }
    val fact = spark.read.parquet(dir)
    // the dim must be a REAL source (a LocalRelation folds the filter
    // into its rows, leaving no selective predicate for DPP to key on),
    // and its key must match the inferred int type of the partition col
    val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    Seq((1, "keep"), (2, "drop"), (3, "drop")).toDF("dia", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim, "dia")
      .filter(org.apache.spark.sql.functions.col("tag") === "keep")
      .select("cod", "qtde_teorica", "dia")
    val rows = joined.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("C1"), // only day 1 survives
      s"wrong rows: ${rows.mkString(", ")}")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan has no dynamic pruning filter:\n$plan")
    // and the runtime scan touched exactly one partition's file
    // (walk through AQE wrappers — collect() does not descend into them)
    def factScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val self = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.output.exists(_.name == "cod") => Seq(f)
        case _ => Nil
      }
      self ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          factScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          factScans(q.plan)
        case other => other.children.flatMap(factScans)
      })
    }
    val scans = factScans(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty, s"no fact file scan found:\n$plan")
    assert(scans.head.metrics("numFiles").value == 1,
      s"expected 1 of 3 partition files read, got ${scans.head.metrics("numFiles").value}")
  }

  test("runtime bloom filter reduces the fact side before a shuffle join (row-level runtime pruning)") {
    // DPP (test above) prunes whole PARTITIONS a filtered dim rules out.
    // When the fact is not partitioned by the join key, the same idea
    // works at ROW level: Spark builds a bloom filter over the filtered
    // dim's keys and injects a might_contain predicate into the fact
    // scan stage, so non-matching rows die before the shuffle instead of
    // after it — at 100 TB that is the difference between shuffling the
    // full fact and shuffling the selectivity fraction. The size gates
    // that make the rule fire only where it pays (application side above
    // 10 GB, creation side below 10 MB) are exactly why it won't trigger
    // on test-sized data unaided — lower the application-side gate here,
    // leave every other default alone.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val fact = graft.lake.Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_quantity")
      val dim = graft.lake.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom-filter runtime predicate injected into the fact side:\n$plan")
      // semantics unchanged: the filter is a pure pre-shuffle reduction
      val expected = fact.join(dim.hint("broadcast"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (the no-code-change leg of skew handling)") {
    // ops/SkewJoin is the explicit salting path; AQE's skew-join split
    // is the runtime path that needs no query change — a straggler
    // partition is split into chunks, the matching side duplicated. At
    // 100 TB one hot key otherwise pins a single task with the whole
    // partition. The byte thresholds that gate the rule are sized for
    // production (256 MB); lower them so the planted skew qualifies
    // here, leave the rule's own logic alone.
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.shuffle.partitions", "4")
      // one hot key carrying ~100x the payload of the others
      val big = (1 to 60000).map(i => (if (i % 100 == 0) (i % 7).toLong else 1L,
        s"payload_$i")).toDF("k", "p")
      val dim = (0L to 7L).map(k => (k, s"dim_$k")).toDF("k", "d")
      val j = big.join(dim, "k")
      assert(j.collect().length == 60000) // materialize THIS plan's final AQE state
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"no skew-split join in the final AQE plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("t8's recount pass broadcasts the sketch candidates (no second full-token shuffle)") {
    // the sketch pass reduces to <= k candidates; if the recount joined
    // them by shuffle the sketch would have bought nothing
    val df = graft.text.TextAnalysis.t8FrequentTokens(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"candidates not broadcast into the recount:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"sketch aggregation not an ObjectHashAggregate:\n$plan")
  }

  test("documents scan prunes to the columns the dedup queries read") {
    val plan = Dedup.d1ExactDedup(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"d1 reads more than (doc_id, text):\n$plan")
  }


  test("cleaning stages are scan-bound: t14/t15 shuffle only for the output sort") {
    // PII redaction and NFC canonicalization claim 'pure narrow
    // projection' — the only exchange allowed is the deterministic
    // output ORDER BY's range partitioning
    Seq(
      "t14" -> graft.text.Redaction.t14PiiRedact(spark, sf),
      "t15" -> graft.text.Normalize.t15Normalize(spark, sf)
    ).foreach { case (name, df) =>
      val n = TestSpark.countShuffles(df)
      assert(n == 1, s"$name should shuffle once (output sort), got $n:\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("t16's per-group thresholds broadcast back; the corpus never hash-shuffles") {
    // the k-row threshold table joins back via broadcast; exchanges are
    // the tiny group-stats aggs + the output sort — none of them
    // repartition the corpus by a key
    val df = graft.text.TextAnalysis.t16TemperatureMix(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"threshold table not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus was shuffled for the threshold join:\n$plan")
  }

  test("s3 embedding near-dup: bounded exchanges, bucket-join reuse, no cartesian (r5 verdict #4)") {
    // the heaviest bench query: its scale shape is LSH buckets -> id-only
    // candidate pairs -> exact cosine on candidates ONLY. The plan must
    // never go all-pairs (no cartesian/BNLJ between corpus-sized sides),
    // must reuse the bucket-table exchange across the self-join, and its
    // exchange count must stay fixed as data grows
    val df = Similarity.s3EmbeddingNeardup(spark, sf)
    df.collect() // materialize the final AQE plan (reuse shows at runtime)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"s3 went all-pairs:\n$plan")
    // r9 fused form: the self-join consumes the pre-partitioned shared
    // float index (zero exchanges on either side); survivors dedup +
    // output sort are the only shuffles left
    val n = TestSpark.countShuffles(df)
    assert(n <= 3, s"s3 exchange count grew to $n (survivor dedup + " +
      s"output sort expected):\n$plan")
  }

  test("s9 PQ: zero-shuffle encode, broadcast LUT scan, bounded exchanges") {
    import graft.sim.ProductQuantization
    // encoding is one literal-codebook projection over the corpus.
    // r18: Spread.ifNarrow may prepend ONE pre-fan-out
    // REPARTITION_BY_NUM when the scan is narrower than the core count
    // (always true at test SF; identity at scale) — allow exactly that
    // exchange and nothing else, so the at-scale zero-shuffle claim
    // stays pinned: any NON-repartition exchange still fails.
    val enc = ProductQuantization.encoded(spark, sf)
    val encPlan = enc.queryExecution.executedPlan.toString
    assert(TestSpark.countShuffles(enc) <= 1 &&
      !encPlan.contains("ENSURE_REQUIREMENTS"),
      s"pq encode should be a pure projection (plus at most the " +
        s"ifNarrow spread):\n$encPlan")
    // the ADC scan broadcasts the bounded LUT side and never shuffles
    // the corpus for scoring; exchanges stay fixed as data grows
    // (candidate fetch agg + re-rank joins + output sort)
    val df = ProductQuantization.s9PqTopk(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"pq LUT side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"pq went all-pairs:\n$plan")
    val n = TestSpark.countShuffles(df)
    assert(n <= 6, s"pq exchange count grew to $n:\n$plan")
  }

  test("t18 leakage split: post-fixpoint plan is component join + output sort, no cartesian (r6 verdict #6)") {
    // the CC fixpoint runs eagerly (localCheckpoint per round); what's
    // left in t18's own plan is docs LEFT JOIN components + the coin
    // projection + the output sort — bounded exchanges, never a
    // doc-pair cartesian
    val df = Dedup.t18LeakageSafeSplit(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"t18 went all-pairs:\n$plan")
    val n = TestSpark.countShuffles(df)
    assert(n <= 4,
      s"t18 post-fixpoint exchange count grew to $n:\n$plan")
  }

  test("d10 all-pairs: prefix self-join reuses its exchange, no cartesian, bounded exchanges") {
    // the exact set-similarity join must never go all-pairs: candidates
    // come from the PREFIX self-join only (both sides the same subplan —
    // one exchange, reused), verification joins candidate ids back to
    // the hashed sets. Exchange count is fixed as data grows. The query
    // serves a memoized checkpoint of this relation, so the audit reads
    // the relation its memo builds.
    val df = graft.text.SetSimilarity.allPairs(
      graft.lake.Tables.documents(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("reused"),
      s"d10 does not reuse the prefix self-join exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"d10 went all-pairs:\n$plan")
    val n = TestSpark.countShuffles(df)
    assert(n <= 10, s"d10 exchange count grew to $n (df agg + df join + " +
      s"rarity window + prefix self-join + pair dedup + two set joins + " +
      s"output sort expected):\n$plan")
  }

  test("d12 containment: no cartesian, bounded exchanges, asymmetric prefix is smaller than d10's") {
    // the directed containment join must never go all-pairs either;
    // its contained-side prefix is ~0.2|A| (vs d10's 0.4|A|), so the
    // candidate join probe stays the smaller relation
    val df = graft.text.SetSimilarity.d12Containment(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"d12 went all-pairs:\n$plan")
    val n = TestSpark.countShuffles(df)
    assert(n <= 10, s"d12 exchange count grew to $n:\n$plan")
  }

  test("eventsBetween pushes the ts bounds into the parquet scan (r5 verdict #2)") {
    // the plain events path converts the scanned ts first, so range
    // predicates evaluate post-scan; eventsBetween filters the RAW scanned
    // column in its own encoding (nanos-long literal / NTZ literal /
    // timestamp literal) — the scan must show BOTH bounds in PushedFilters
    // whatever encoding the current testdata shipped with, and w9 (the one
    // user of the path) must keep its row set
    val df = graft.lake.Tables.eventsBetween(spark, sf,
      "2024-01-01 00:00:00", "2024-01-02 00:00:00")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters:") &&
      scan.contains("GreaterThanOrEqual(ts,") &&
      scan.contains("LessThan(ts,"),
      s"ts bounds not pushed to the events scan:\n$scan")
    // row-set equivalence with the post-conversion filter it replaces
    import org.apache.spark.sql.functions.{col, lit}
    val old = graft.lake.Tables.events(spark, sf)
      .filter(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
    assert(df.count() == old.count(),
      "eventsBetween changed the selected row set vs the derived-column filter")
  }

  test("t17 packing: prefix-sum plan — bounded exchanges, no per-lang corpus window") {
    // r13 verdict #1 retired the old one-exchange-serves-both shape:
    // its window hashed the CORPUS on lang (5 values — a single task
    // per language at cluster scale). The prefix-sum form pays more
    // exchanges, every one of them key-bounded: subtotal agg +
    // offsets window (reduced relation) + in-bucket window + doc_id
    // text join + pack agg + output sort. Pin the budget and that no
    // corpus-sized window hashes on lang alone (PrefixSumSpec pins the
    // window keys node-by-node for t35).
    val df = graft.text.TextAnalysis.t17PackPayloads(spark, sf)
    val n = TestSpark.countShuffles(df)
    assert(n <= 8, s"t17 exchange budget blown, got $n:\n" +
      df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__ps_b"),
      s"prefix-sum bucket column missing from the t17 plan:\n$plan")
  }

  test("d9 substring dedup: survivor election is a same-key shuffle join at scale (no forced broadcast)") {
    // the survivor relation is corpus-sized (one row per distinct
    // chunk): the PLAN must not depend on broadcasting it. At test SF
    // AQE rightly converts the tiny side — so pin the at-scale shape
    // with the broadcast thresholds off (the BucketingSpec pattern);
    // what this proves is that no broadcast HINT forces the OOM shape
    // when the sides are genuinely big.
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    try {
      val df = Dedup.d9SubstringDedup(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"survivor join must not require a broadcast:\n$plan")
      val n = TestSpark.countShuffles(df)
      assert(n <= 5,
        s"expected chunk exchanges + election + doc agg + output sort, got $n:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("a14 equi-depth: percentile boundaries broadcast back — NO global window, no one-task sort") {
    // the ntile() formulation would plan Window with an empty
    // partitionBy = every row through a single task; the shipped form
    // must contain no Window at all, and the boundary side must reach
    // the bucket projection as a broadcast of ONE row
    val df = graft.queries.CoreQueries.a14EquidepthHistogram(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"a14 must not use a window:\n$plan")
    assert(plan.contains("Broadcast"),
      s"boundary row should broadcast:\n$plan")
  }

  test("w11 ratio-to-report: re-aggregate + broadcast, not a per-nation window re-sort") {
    val df = graft.queries.CoreQueries.w11ShareOfTotal(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"w11 must not use a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation totals should broadcast-join back:\n$plan")
  }

  test("l2 CDC apply: ONE key exchange (+ output sort) — tombstone filter adds no shuffle") {
    val df = graft.ops.Warehouse.l2CdcApply(spark, sf)
    val n = TestSpark.countShuffles(df)
    assert(n <= 2, s"expected user_id hash + output sort, got $n:\n" +
      df.queryExecution.executedPlan)
  }

  test("pipe_curate_pack packs via the distributed prefix sum (r16 verdict #2)") {
    // the per-lang unbounded-preceding window this replaced was a
    // single-task-per-language sort at cluster scale; the prefix-sum
    // form's bucket column must appear in the plan, and no window in
    // the plan may partition on lang alone
    val df = graft.text.Pipelines.pipeCuratePack(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__ps_b"),
      s"prefix-sum bucket column missing from the pipe_curate_pack plan:\n$plan")
  }

  test("no per-lang running-sum window remains in src/main outside PrefixSum (r16 verdict #2 audit)") {
    // source-level audit: the one-reducer-per-language anti-pattern is
    // Window.partitionBy("lang") — after the r17 swap nothing in main
    // source may construct one (PrefixSum partitions on a caller-chosen
    // shard VARIABLE; doc-grain windows are fine). Comment/docstring
    // mentions are excluded. MULTI-LINE aware (r17 verdict #3 / What's
    // wrong #1): the previous per-line grep missed `Window` and
    // `.partitionBy("lang")` split across a line break — exactly how
    // scalafmt-width code writes it — so comment-stripped lines are
    // JOINED before matching and offenders reported by the match's
    // line number.
    def perLangWindows(source: String): Seq[Int] = {
      // strip line comments and scaladoc continuation lines, keep line
      // structure so match offsets map back to line numbers
      val stripped = source.linesIterator.map { line =>
        val t = line.trim
        if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")) ""
        else line.replaceAll("//.*$", "")
      }.mkString("\n")
      val re = """Window\s*\.\s*partitionBy\s*\(\s*(?:col\s*\(\s*)?"lang"""".r
      re.findAllMatchIn(stripped)
        .map(m => stripped.take(m.start).count(_ == '\n') + 1).toSeq
    }
    // the audit must catch what it claims to: planted single-line,
    // split-line, and col()-wrapped forms; and not flag comments or
    // variable-shard windows
    assert(perLangWindows("""val w = Window.partitionBy("lang").orderBy("d")""") == Seq(1))
    assert(perLangWindows("val w = Window\n  .partitionBy(\"lang\")\n  .orderBy(\"d\")") == Seq(1),
      "audit misses the multi-line form it was widened for")
    assert(perLangWindows("""val w = Window.partitionBy(col("lang"))""") == Seq(1))
    assert(perLangWindows("// Window.partitionBy(\"lang\") in a comment\nval w = Window.partitionBy(shardCol)").isEmpty)

    val root = java.nio.file.Paths.get("src/main/scala")
    assume(java.nio.file.Files.exists(root))
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        perLangWindows(src).map(i => s"$p:$i")
      }.toList
    assert(offenders.isEmpty,
      s"per-lang window(s) back in main source: ${offenders.mkString(", ")}")
  }
}
