package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Winnowing

/** Winnowing fingerprints ([[Winnowing.fingerprints]], t29) — the
  * oracle gate hash-checks the pair output at sf0.01; these pins
  * cover the algorithmic contracts the output hash can't localize:
  * the detection GUARANTEE (a shared run of ≥ W+K−1 = 6 tokens always
  * yields a shared fingerprint), agreement with a plain-Scala
  * reference implementation of the paper's rules (min hash per full
  * window, rightmost tie), and the 2/(W+1) density law.
  */
class WinnowingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val K = 3
  private val W = 4

  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def fps(rows: Seq[(Long, String)]): Map[Long, Set[(Long, Long)]] =
    Winnowing.fingerprints(docsDf(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (d, a) =>
        (d, a.map(t => (t._2, t._3)).toSet)
      }

  /** The paper's selection, straight-line: hash every K-gram with the
    * SAME portable md5 prefix, then for each full window of W grams
    * keep (pos, hash) of the minimum hash, rightmost on ties.
    */
  private def reference(text: String): Set[(Long, Long)] = {
    val toks = text.split(" ", -1)
    if (toks.length < K + W - 1) Set.empty
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = (0 to toks.length - K).map { i =>
        val g = toks.slice(i, i + K).mkString(" ")
        val hex = md.digest(g.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        java.lang.Long.parseLong(hex, 16)
      }
      (0 to hs.length - W).map { p =>
        val win = (p until p + W).map(i => (hs(i), i))
        val m = win.minBy { case (h, i) => (h, -i) }
        (m._2.toLong, m._1)
      }.toSet
    }
  }

  test("matches the plain-Scala reference on random corpora") {
    val rnd = new scala.util.Random(2903)
    val vocab = ('a' to 'z').map(_.toString)
    val rows = (0L until 40L).map { id =>
      val n = 2 + rnd.nextInt(30) // includes sub-threshold docs
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = fps(rows)
    rows.foreach { case (id, text) =>
      val want = reference(text)
      assert(got.getOrElse(id, Set.empty) == want,
        s"doc $id (${text.length} chars): got ${got.getOrElse(id, Set.empty)} want $want")
    }
  }

  test("matches the reference on odd whitespace (r18 native-kernel pin)") {
    // the r18 rewrite moved gram digesting from the SQL
    // transform/slice/concat_ws chain to graft_ngram_md5 — empty
    // tokens from consecutive/trailing spaces are where the two could
    // diverge (split(" ", -1) keeps them; concat_ws and the kernel's
    // byte-stream join must both render them as bare separators)
    val rows = Seq(
      1L -> "a  b c d e f g",       // double space -> empty token
      2L -> "a b c d e f g ",       // trailing space
      3L -> " a b c d e f g",       // leading space
      4L -> "a b  c  d e f g  h i") // several
    val got = fps(rows)
    rows.foreach { case (id, text) =>
      assert(got.getOrElse(id, Set.empty) == reference(text),
        s"doc $id diverged from the reference on odd whitespace")
    }
  }

  test("guarantee: a shared 6-token run always yields a shared fingerprint hash") {
    val rnd = new scala.util.Random(777)
    val vocab = (0 until 200).map(i => s"w$i")
    (1 to 30).foreach { trial =>
      val run = Seq.fill(K + W - 1)(vocab(rnd.nextInt(vocab.size)))
      def doc(): String = {
        val pre = Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        val post = Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        (pre ++ run ++ post).mkString(" ")
      }
      val got = fps(Seq((1L, doc()), (2L, doc())))
      val shared = got.getOrElse(1L, Set.empty).map(_._2)
        .intersect(got.getOrElse(2L, Set.empty).map(_._2))
      assert(shared.nonEmpty,
        s"trial $trial: planted run '${run.mkString(" ")}' left no shared fingerprint")
    }
  }

  test("rightmost tie rule: an all-identical-gram doc selects the latest position") {
    // every gram identical -> every window is an all-ways tie -> each
    // full window selects ITS OWN last gram (rightmost)
    val text = Seq.fill(10)("same").mkString(" ") // 8 grams, 5 full windows
    val got = fps(Seq((1L, text)))(1L)
    // windows start at 0..4, each selecting pos start+W-1 = 3..7
    assert(got.map(_._1) == Set(3L, 4L, 5L, 6L, 7L))
    assert(got.map(_._2).size == 1, "identical grams must share one hash")
  }

  test("exact-duplicate contraction: shipped pairs == doc-grain pairs on the real corpus") {
    val docs = graft.lake.Tables.documents(spark, sf)
    val fast = Winnowing.winnowingPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Winnowing.winnowingPairsDocGrain(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast == brute,
      s"contracted form diverged: only_fast=${(fast -- brute).take(3)} only_brute=${(brute -- fast).take(3)}")
  }

  test("clone-cluster fixture: contraction collapses identical docs, expansion restores every pair") {
    // 3 distinct texts x 4 exact clones each, plus one unrelated doc —
    // within-cluster pairs share ALL fingerprints, cross pairs whatever
    // the reps share
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 50).map(i => s"t$i")
    val texts = Seq.fill(3)(Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val rows = (for {
      (t, g) <- texts.zipWithIndex
      c <- 0 until 4
    } yield (g * 10L + c, t)) :+
      (99L, Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = docsDf(rows)
    val fast = Winnowing.winnowingPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Winnowing.winnowingPairsDocGrain(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast == brute)
    // all 6 within-cluster pairs of each cluster present, sharing the
    // full fingerprint set
    texts.indices.foreach { g =>
      val ids = (0 until 4).map(c => g * 10L + c)
      val nfp = fps(Seq((ids.head, texts(g))))(ids.head).size.toLong
      assert(nfp >= 3, "fixture cluster has too few fingerprints")
      for (i <- ids.indices; j <- i + 1 until ids.length)
        assert(fast.contains((ids(i), ids(j), nfp)),
          s"missing clone pair (${ids(i)}, ${ids(j)}, $nfp)")
    }
  }

  test("fingerprint pipeline costs ONE exchange (distinct reuses the window's doc_id partitioning)") {
    val docs = graft.lake.Tables.documents(spark, sf)
    assert(countShuffles(Winnowing.fingerprints(docs)) == 1,
      "the (doc_id, h) distinct must not add an exchange after the doc_id window")
  }

  test("d14 decontamination: near-verbatim-with-edits leaks recovered; clean docs untouched; d8's exact-shingle screen misses the same plant (r12 verdict #8)") {
    import spark.implicits._
    val bench = "the quick brown fox jumps over the lazy dog while " +
      "seven wizards brew strong potions under the ancient oak tree " +
      "at midnight every single winter solstice festival night"
    // the leak: the same item with every 4th word RE-CASED (so EVERY
    // exact 5-gram window contains an edit — d8's case-sensitive
    // screen goes fully blind), whitespace reflowed, and one word
    // swapped mid-text; under d14's normalization the text differs
    // from the benchmark by the single swap, leaving long runs
    val leaked = bench.split(" ").zipWithIndex.map { case (w, i) =>
      val cased = if (i % 4 == 0) w.toUpperCase else w
      if (cased == "midnight") "noon" else cased
    }.mkString(" ").replace("brown fox", "brown  fox")
    val clean = "completely unrelated text about databases indexes " +
      "partitions shuffles joins aggregates windows and watermarks " +
      "running on large distributed clusters every day of the year"
    val training = Seq((0L, leaked), (2L, clean)).toDF("doc_id", "text")
    val benchmark = Seq((1L, bench)).toDF("doc_id", "text")

    val flagged = graft.text.Winnowing.decontaminate(training, benchmark)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flagged.contains(0L),
      s"the edited near-verbatim leak was not recovered: $flagged")
    assert(flagged(0L) >= 3L, s"leak shared too few fingerprints: $flagged")
    assert(!flagged.contains(2L), s"clean doc falsely flagged: $flagged")

    // the motivating gap: d8's exact 5-gram screen misses this plant
    // (case + whitespace edits break every overlapping shingle window
    // around them, and the doc is short enough that none survives at
    // d8's threshold) — winnowing's normalized-run guarantee is what
    // recovers it
    val d8 = graft.text.Dedup.crossContamination(
      training, benchmark, n = 5)
    assert(!d8.collect().map(_.getLong(0)).contains(0L),
      "fixture regression: d8's exact screen now catches the plant — " +
        "strengthen the edits so d14's advantage stays demonstrated")
  }

  test("t38: contaminated components forced wholly to train; clean components keep t18's coin; the force provably changes something") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01" // d14 flags 11 docs at this tier
    val docs = graft.lake.Tables.documents(spark, d)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val bench = docs.filter(col("doc_id") % 2 === 1)
    val out = graft.text.Winnowing.t38DecontaminatedSplit(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = out.map(r => r._1 -> r).toMap
    val flagged = graft.text.Winnowing.decontaminate(train, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty)
    val hotComponents = flagged.map(id => byDoc(id)._2)
    // 1. every member of a contaminated component is in train
    val leak = out.filter(r => hotComponents(r._2) && r._3 != "train")
    assert(leak.isEmpty, s"contaminated-component members left train: $leak")
    // 2. clean components carry t18's exact assignment
    val base = graft.text.Dedup.splitByComponent(train,
        graft.text.Dedup.candidatePairsFor(train))
      .select("doc_id", "component", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val baseByDoc = base.map(r => r._1 -> r).toMap
    val drift = out.filter(r => !hotComponents(r._2) && r != baseByDoc(r._1))
    assert(drift.isEmpty, s"clean components drifted from t18: ${drift.take(3).toSeq}")
    // 3. fixture strength: the force rule actually moved something —
    // at least one contaminated component's base coin said val/test
    assert(base.exists(r => hotComponents(r._2) && r._3 != "train"),
      "no contaminated component had a val/test base coin — the force " +
        "rule is vacuous on this tier; pick a tier where it bites")
  }

  test("persisted fingerprint index: t29/d14/t38 table-served ≡ recompute; append ≡ rebuild; second probe equal; stale corpus refuses") {
    val dir = java.nio.file.Files.createTempDirectory("wfp_idx")
    val d = dir.toString
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    val base = docs.filter(col("doc_id") < 4L * n / 5L)
    val inc = docs.filter(col("doc_id") >= 4L * n / 5L).localCheckpoint()
    base.write.parquet(s"$d/documents.parquet")
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    try {
      // cold baselines BEFORE any table exists
      val cold = Seq("t29_winnowing", "d14_decontaminate",
        "t38_decontaminated_split")
        .map(q => q -> rows(Winnowing.queries(q)(spark, d))).toMap

      Winnowing.persistFingerprintIndex(spark, d, buckets = 4)
      cold.foreach { case (q, want) =>
        assert(rows(Winnowing.queries(q)(spark, d)) == want,
          s"$q diverged when served from the fingerprint table")
      }

      // incremental: the admitted docs land, their rows append to BOTH
      // grains, and everything still equals a from-scratch recompute
      val prevSig = Winnowing.fingerprintStamp(spark, d).get
      inc.write.mode("append").parquet(s"$d/documents.parquet")
      Winnowing.appendFingerprintIndex(spark, d, inc, prevSig)
      assert(Winnowing.fingerprintStamp(spark, d)
        .contains(graft.lake.SessionMemo.signature(
          s"$d/documents.parquet")),
        "append did not re-stamp to the grown corpus")
      val servedGrown = rows(Winnowing.queries("t29_winnowing")(spark, d))
      val servedD14 = rows(Winnowing.queries("d14_decontaminate")(spark, d))
      Winnowing.dropFingerprintIndex(spark, d)
      assert(rows(Winnowing.queries("t29_winnowing")(spark, d)) == servedGrown,
        "t29 off the appended table != recompute on the grown corpus")
      assert(rows(Winnowing.queries("d14_decontaminate")(spark, d)) == servedD14,
        "d14 off the appended table != recompute on the grown corpus")

      // foreign-rewrite guard + staleness
      Winnowing.persistFingerprintIndex(spark, d, buckets = 4)
      intercept[IllegalStateException] {
        Winnowing.appendFingerprintIndex(spark, d, inc, prevSig)
      }
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(d, "documents.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000))
      assert(Winnowing.servedFingerprints(spark, d).isEmpty,
        "a stale-stamped fingerprint table still served")
    } finally Winnowing.dropFingerprintIndex(spark, d)
  }

  test("density: fingerprints per doc near the 2/(W+1) law on real documents") {
    val docs = graft.lake.Tables.documents(spark, sf)
    val stats = Winnowing.fingerprints(docs)
      .groupBy("doc_id").agg(countDistinct("h").as("nfp"))
      .join(docs.select(col("doc_id"),
        (size(split(col("text"), " ")) - (K - 1)).as("n_grams")), "doc_id")
      .agg(sum("nfp").as("fp"), sum("n_grams").as("grams"))
      .head()
    val density = stats.getLong(0).toDouble / stats.getLong(1)
    assert(density > 0.25 && density < 0.55,
      s"density $density outside the 2/(W+1)=0.4 band")
  }
}
