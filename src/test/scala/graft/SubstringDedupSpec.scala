package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.SubstringDedup

/** t40/t41 — cross-document duplicated-span coverage and the
  * exact-substring cut (word grain, Lee et al. semantics: every
  * repeated N-gram span loses all but its canonical occurrence).
  * Pinned three ways: a hand-computed fixture (planted cross-doc,
  * within-doc, and boundary-length spans), a plain-Scala brute-force
  * reference over the real sf0.001 corpus (every doc, every token),
  * and a plan audit (no cartesian anywhere, bounded shuffles).
  */
class SubstringDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def fixtureDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("ssdedup").toString
    Seq(
      (0L, "a b c d e x1 x2"),            // canonical "a b c d e" @ 0
      (1L, "z1 z2 a b c d e z3"),          // same span @ 2 (cut)
      (2L, "u1 u2 u3 u4 u5 u6"),           // all 5-grams unique
      (3L, "a b c d e"),                   // doc IS the span (fully cut)
      (4L, "s1 s2"),                       // too short to hold a span
      (5L, "m1 m2 m3 m4 m5 q m1 m2 m3 m4 m5") // within-doc repeat @ 0 and 6
    ).toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  test("t40 fixture: coverage counts merged spans, short docs report zero") {
    val d = fixtureDir()
    val out = SubstringDedup.t40DupSpanCoverage(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L) == ((7, 5L, 7142L)))
    assert(out(1L) == ((8, 5L, 6250L)))
    assert(out(2L) == ((6, 0L, 0L)))
    assert(out(3L) == ((5, 5L, 10000L)))
    assert(out(4L) == ((2, 0L, 0L)))   // < N tokens: present, zero
    // two overlapapable starts 6 apart merge to 10 covered of 11
    assert(out(5L) == ((11, 10L, 9090L)))
  }

  test("t41 fixture: canonical occurrence survives, others cut, md5 of cleaned text") {
    val d = fixtureDir()
    val out = SubstringDedup.t41SubstringDedup(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    // doc 0 holds the canonical copy: untouched
    assert(out(0L) == ((7, 0L, 7L, md5hex("a b c d e x1 x2"))))
    // doc 1 loses p∈[2,6], keeps the flanks
    assert(out(1L) == ((8, 5L, 3L, md5hex("z1 z2 z3"))))
    assert(out(2L)._2 == 0L)
    // doc 3 is entirely the duplicated span: fully cut, md5("")
    assert(out(3L) == ((5, 5L, 0L, md5hex(""))))
    assert(out(4L) == ((2, 0L, 2L, md5hex("s1 s2"))))
    // doc 5: within-doc repeat — the second occurrence (p 6..10) cut
    assert(out(5L) == ((11, 5L, 6L, md5hex("m1 m2 m3 m4 m5 q"))))
  }

  /** Plain-Scala reference over the real corpus: brute per-token mask. */
  private def brute(docs: Seq[(Long, Array[String])])
      : (Map[Long, Long], Map[Long, (Long, String)]) = {
    val n = SubstringDedup.N
    val counts = scala.collection.mutable.Map[String, Int]()
      .withDefaultValue(0)
    val canon = scala.collection.mutable.Map[String, (Long, Int)]()
    for ((id, ts) <- docs; i <- 0 to ts.length - n) {
      val g = ts.slice(i, i + n).mkString(" ")
      counts(g) += 1
      if (!canon.contains(g) ||
          Ordering[(Long, Int)].lt((id, i), canon(g))) canon(g) = (id, i)
    }
    val covered = docs.map { case (id, ts) =>
      val mask = Array.fill(ts.length)(false)
      for (i <- 0 to ts.length - n; if counts(ts.slice(i, i + n).mkString(" ")) >= 2;
           j <- i until i + n) mask(j) = true
      id -> mask.count(identity).toLong
    }.toMap
    val cutres = docs.map { case (id, ts) =>
      val cut = Array.fill(ts.length)(false)
      for (i <- 0 to ts.length - n) {
        val g = ts.slice(i, i + n).mkString(" ")
        if (counts(g) >= 2 && canon(g) != ((id, i)))
          for (j <- i until i + n) cut(j) = true
      }
      val keptToks = ts.indices.filterNot(cut).map(ts)
      id -> ((cut.count(identity).toLong, md5hex(keptToks.mkString(" "))))
    }.toMap
    (covered, cutres)
  }

  test("t40/t41 ≡ brute-force reference over the whole sf0.001 corpus") {
    val docs = graft.lake.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toSeq
    val (cov, cut) = brute(docs)
    val t40 = SubstringDedup.t40DupSpanCoverage(spark, sf).collect()
    assert(t40.length == docs.length)
    t40.foreach { r =>
      assert(r.getLong(2) == cov(r.getLong(0)),
        s"t40 covered mismatch doc ${r.getLong(0)}")
    }
    // the corpus must actually exercise the operator
    assert(t40.count(_.getLong(2) > 0) > 10,
      "sf0.001 plants too few duplicated spans to trust this test")
    val t41 = SubstringDedup.t41SubstringDedup(spark, sf).collect()
    t41.foreach { r =>
      val (bcut, bmd5) = cut(r.getLong(0))
      assert(r.getLong(2) == bcut, s"t41 cut mismatch doc ${r.getLong(0)}")
      assert(r.getString(4) == bmd5, s"t41 md5 mismatch doc ${r.getLong(0)}")
      // kept + cut partitions the doc; the cut never exceeds coverage
      assert(r.getLong(2) + r.getLong(3) == r.getInt(1).toLong)
      assert(r.getLong(2) <= cov(r.getLong(0)))
    }
  }

  test("persisted occurrence index: served ≡ recompute; append ≡ rebuild; served plan drops the occurrence exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("ngo_idx")
    val d = dir.toString
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    val base = docs.filter(col("doc_id") < 4L * n / 5L)
    val inc = docs.filter(col("doc_id") >= 4L * n / 5L).localCheckpoint()
    base.write.parquet(s"$d/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    try {
      // cold baselines BEFORE any table exists
      val cold40 = rows(SubstringDedup.t40DupSpanCoverage(spark, d))
      val cold41 = rows(SubstringDedup.t41SubstringDedup(spark, d))
      val coldShuffles =
        countShuffles(SubstringDedup.t40DupSpanCoverage(spark, d))

      SubstringDedup.persistOccurrenceIndex(spark, d, buckets = 4)
      assert(rows(SubstringDedup.t40DupSpanCoverage(spark, d)) == cold40,
        "t40 served != recompute")
      assert(rows(SubstringDedup.t41SubstringDedup(spark, d)) == cold41,
        "t41 served != recompute")
      // the served scan is bucketed on ngh: both the duplicate-count
      // aggregate and the probe join read it exchange-free
      assert(countShuffles(SubstringDedup.t40DupSpanCoverage(spark, d))
          < coldShuffles,
        "served t40 did not plan fewer exchanges than the cold path")

      // append ≡ rebuild (per-doc row locality)
      val sig = SubstringDedup.occurrenceStamp(spark, d).get
      inc.write.mode("append").parquet(s"$d/documents.parquet")
      SubstringDedup.appendOccurrenceIndex(spark, d, inc, sig)
      val appended = SubstringDedup.servedOccurrences(spark, d)
      assert(appended.nonEmpty, "table invisible after append+restamp")
      val full = graft.lake.Tables.documents(spark, d)
      // binary ngh compares by object identity in Row.toString — hex it
      def occRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        rows(df.select(col("doc_id"), col("s"), hex(col("ngh")))
          .orderBy("doc_id", "s"))
      assert(occRows(appended.get) ==
        occRows(SubstringDedup.occurrencesOf(full)),
        "append != rebuild on corpus ∪ increment")
      // the grown corpus serves the same answers as a cold session
      val served40 = rows(SubstringDedup.t40DupSpanCoverage(spark, d))
      SubstringDedup.dropOccurrenceIndex(spark, d)
      assert(rows(SubstringDedup.t40DupSpanCoverage(spark, d)) == served40,
        "t40 after append != cold recompute on grown corpus")
      // stale-stamp append refuses (foreign rewrite posture)
      SubstringDedup.persistOccurrenceIndex(spark, d, buckets = 4)
      intercept[IllegalStateException] {
        SubstringDedup.appendOccurrenceIndex(spark, d, inc, "bogus-sig")
      }
    } finally {
      SubstringDedup.dropOccurrenceIndex(spark, d)
    }
  }

  test("screenIncrement ≡ t40 on corpus ∪ batch restricted to batch docs; admit thresholds on coverage") {
    val dir = java.nio.file.Files.createTempDirectory("ssd_screen").toString
    val docs = graft.lake.Tables.documents(spark, sf)
      .select("doc_id", "text").localCheckpoint()
    val n = docs.count()
    val cut = 4L * n / 5L
    val corpus = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut).localCheckpoint()
    docs.write.parquet(s"$dir/documents.parquet") // = corpus ∪ batch
    val want = graft.text.SubstringDedup.t40DupSpanCoverage(spark, dir)
      .filter(col("doc_id") >= cut)
      .collect().map(_.toString).toSet
    val screened = graft.text.SubstringDedup
      .screenIncrement(graft.text.SubstringDedup.occurrencesOf(corpus), batch)
      .localCheckpoint()
    assert(screened
      .select("doc_id", "n_tokens", "covered_tokens", "coverage_bp")
      .collect().map(_.toString).toSet == want,
      "screen != t40 coverage on the union")
    // the union twin must actually flag batch docs for this to bite
    assert(screened.filter(col("covered_tokens") > 0).count() > 0,
      "fixture: no batch doc shares a span with the corpus")
    val badAdmit = screened.filter(
      col("admit") =!= (col("coverage_bp") <=
        graft.text.SubstringDedup.MaxStreamCoverageBp))
    assert(badAdmit.isEmpty, "admit flag disagrees with the threshold")
  }

  test("graft_ngram_md5 ≡ the SQL transform chain bit-for-bit over the whole corpus; codegen span; short docs empty") {
    graft.functions.TextSignatures.ensureRegistered(spark)
    val n = SubstringDedup.N
    val docs = graft.lake.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val native = docs.select(col("doc_id"),
      expr(s"transform(graft_ngram_md5(text, $n), x -> hex(x))").as("hs"))
    val sqlForm = docs
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), expr(
        s"""CASE WHEN size(t) >= $n THEN
           |  transform(sequence(0, size(t) - $n),
           |    i -> upper(md5(concat_ws(' ', slice(t, i + 1, $n)))))
           |ELSE array() END""".stripMargin).as("hs"))
    val mismatch = native.as("a").join(sqlForm.as("b"), "doc_id")
      .filter(col("a.hs") =!= col("b.hs"))
    assert(mismatch.isEmpty,
      "native ngram digests differ from the SQL chain")
    // short docs: empty array, so posexplode drops them (the ≥ N filter)
    import spark.implicits._
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    assert(SubstringDedup.occurrencesOf(short).count() == 0)
    // the kernel must run inside whole-stage codegen, not a fallback
    val spans = native.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty, "graft_ngram_md5 fell out of codegen")
  }

  test("plan audit: no cartesian product; shuffles bounded") {
    val t40 = SubstringDedup.t40DupSpanCoverage(spark, sf)
    // t41 serves a memoized checkpoint; audit the relation it builds
    val docs = graft.lake.Tables.documents(spark, sf)
    val t41 = SubstringDedup.t41Of(docs, SubstringDedup.occurrencesOf(docs))
    Seq(t40, t41).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Cartesian"), "cartesian in dup-span plan")
    }
    assert(countShuffles(t40) <= 8)
    assert(countShuffles(t41) <= 10)
  }

  /** Plain-Scala reference of [[SubstringDedup.cutSpansMaximal]]'s
    * whole semantics: gram dup detection, gaps-and-islands run merge,
    * run-content canonical election, conservative keep of
    * content-unique runs, interval cut + reconstruction.
    */
  private def bruteMaximal(docs: Seq[(Long, String)],
      w: Int): Map[Long, (Int, Long, Long, String)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    final case class Occ(id: Long, s: Int, ng: String)
    val occ = docs.flatMap { case (id, _) =>
      val t = toks(id)
      (0 to t.length - w).map(s => Occ(id, s, t.slice(s, s + w).mkString(" ")))
    }
    val dupNg = occ.groupBy(_.ng).filter(_._2.size >= 2).keySet
    final case class Run(id: Long, s0: Int, e: Int) // e exclusive
    val runs = occ.filter(o => dupNg(o.ng)).groupBy(_.id).toSeq.flatMap {
      case (id, os) =>
        val rs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        for (s <- os.map(_.s).sorted) {
          if (rs.nonEmpty && rs.last._2 + 1 == s)
            rs(rs.length - 1) = (rs.last._1, s)
          else rs += ((s, s))
        }
        rs.map { case (a, b) => Run(id, a, b + w) }
    }
    def packed(r: Run): Long = r.id * (1L << 20) + r.s0
    val cuts = runs.groupBy(r => toks(r.id).slice(r.s0, r.e).mkString(" "))
      .values.filter(_.size >= 2).flatMap { g =>
        val ck = g.map(packed).min
        g.filter(packed(_) != ck)
      }.toSeq
    docs.map { case (id, _) =>
      val t = toks(id)
      val cut = Array.fill(t.length)(false)
      cuts.filter(_.id == id)
        .foreach(r => (r.s0 until r.e).foreach(cut(_) = true))
      val kept = t.zipWithIndex.collect { case (tk, i) if !cut(i) => tk }
      id -> ((t.length, (t.length - kept.length).toLong,
        kept.length.toLong, kept.mkString(" ")))
    }.toMap
  }

  test("cutSpansMaximal fixture: runs cut atomically, interior-slice runs kept, within-doc repeat elects its first copy") {
    import spark.implicits._
    val w = 3
    val docs = Seq(
      (0L, "a b c d e f x y"),        // canonical long span @ 0
      (1L, "p q a b c d e f r"),      // same maximal span @ 2 (cut whole)
      (2L, "m c d e n o p"),          // interior slice only: content-unique run, kept
      (3L, "u v w z u v w"),          // within-doc repeat: second copy cut
      (4L, "s t")                     // too short for any gram
    )
    val out = SubstringDedup.cutSpansMaximal(docs.toDF("doc_id", "text"), w)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val want = bruteMaximal(docs, w)
    assert(out == want, s"spark=$out\nbrute=$want")
    // the planted semantics, pinned by hand on top of the brute:
    assert(out(0L)._2 == 0L, "canonical occurrence must survive whole")
    assert(out(1L) == ((9, 6L, 3L, "p q r")),
      "non-canonical maximal run must cut atomically")
    assert(out(2L)._2 == 0L,
      "content-unique interior-slice run must be kept (conservative residue)")
    assert(out(3L) == ((7, 3L, 4L, "u v w z")),
      "within-doc repeat must keep the first copy only")
    assert(out(4L)._2 == 0L)
  }

  test("t44 ≡ brute-force maximal-run cut at W=50 over the real trained-token corpus; cut is non-degenerate") {
    val bt = graft.text.TextAnalysis.bpeTokenText(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = bruteMaximal(bt, SubstringDedup.WBpe)
    val out = SubstringDedup.t44BpeSpanCut(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out.keySet == want.keySet)
    out.foreach { case (id, (n, cut, kept, cleanMd5)) =>
      val (wn, wcut, wkept, wtext) = want(id)
      assert((n, cut, kept) == ((wn, wcut, wkept)), s"doc $id counts differ")
      assert(cleanMd5 == md5hex(wtext), s"doc $id cleaned stream differs")
    }
    assert(out.values.exists(_._2 > 0),
      "W=50 cut is degenerate on this corpus — width not exercised")
  }
}
