package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.TextAnalysis

/** The trained-tokenizer artifact (r14 verdict #3/#4): the in-memory
  * trainer over the collected contraction must be bit-equal to the
  * per-merge distributed loop it replaced, and the stamp-persisted
  * merge/state tables must serve a fresh session identically to a
  * retrain — with the nightly retrain policy ("always" exactness vs
  * "on-doubling" frozen artifact) pinned in both directions.
  */
class BpeSpec extends AnyFunSuite {
  import TestSpark._

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("in-memory trainer ≡ distributed loop at merges=10 on sf0.01 (merges AND final state)") {
    val d = "/root/testdata/sf0.01"
    val (wMem, mMem) = TextAnalysis.trainBpe(spark, d)
    val (wDist, mDist) = TextAnalysis.trainBpeDistributed(spark, d)
    assert(mMem == mDist,
      s"merge lists diverged:\n mem=$mMem\n dist=$mDist")
    assert(rowSet(wMem) == rowSet(wDist),
      "post-merge word states diverged between trainers")
  }

  test("persisted artifact: fresh session serves ≡ retrain; stale prevSig throws") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_tier")
    val d = dir.toString
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    docs.filter(col("doc_id") < 4L * n / 5L)
      .write.parquet(s"$d/documents.parquet")
    try {
      val trained = rowSet(TextAnalysis.queries("t30_bpe_train")(spark, d))
      val vocab = rowSet(TextAnalysis.queries("t31_bpe_vocab")(spark, d))
      TextAnalysis.persistBpe(spark, d)
      assert(TextAnalysis.bpeStamp(spark, d).contains(
        graft.lake.SessionMemo.signature(s"$d/documents.parquet")))
      // a fresh session = no memo: the table must serve, identically
      TextAnalysis.evictBpeMemo()
      assert(rowSet(TextAnalysis.queries("t30_bpe_train")(spark, d))
        == trained, "served t30 != retrain")
      assert(rowSet(TextAnalysis.queries("t31_bpe_vocab")(spark, d))
        == vocab, "served t31 != retrain")
      // foreign-rewrite guard
      intercept[IllegalStateException] {
        TextAnalysis.maintainBpe(spark, d, "not-the-stamp")
      }
    } finally TextAnalysis.dropBpe(spark, d)
  }

  test("trained-token stream table: served ≡ inline; frozen-tokenizer append ≡ rebuild; t44 served ≡ cold; stale handle refuses") {
    import graft.text.SubstringDedup
    val dir = java.nio.file.Files.createTempDirectory("bpe_stream")
    val d = dir.toString
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    val base = docs.filter(col("doc_id") < 4L * n / 5L)
    val delta = docs.filter(col("doc_id") >= 4L * n / 5L).localCheckpoint()
    base.write.parquet(s"$d/documents.parquet")
    try {
      TextAnalysis.persistBpe(spark, d) // the artifact the stream derives from
      val inline = rowSet(TextAnalysis.bpeTokenText(spark, d))
      val t44Cold = SubstringDedup.t44BpeSpanCut(spark, d)
        .collect().map(_.toString).toSeq
      TextAnalysis.persistBpeStream(spark, d, buckets = 4)
      assert(rowSet(TextAnalysis.servedBpeStream(spark, d).get) == inline,
        "served stream != inline encode")
      assert(SubstringDedup.t44BpeSpanCut(spark, d)
        .collect().map(_.toString).toSeq == t44Cold,
        "t44 served != t44 cold")

      // frozen-tokenizer append: the on-doubling restamp freezes the
      // merges, so per-doc locality holds and the delta's rows append
      // exactly — equal to a full re-encode of the grown corpus under
      // the SAME frozen artifact
      val sigB = TextAnalysis.bpeStamp(spark, d).get
      val sigS = TextAnalysis.bpeStreamStamp(spark, d).get
      delta.write.mode("append").parquet(s"$d/documents.parquet")
      val retrained =
        TextAnalysis.maintainBpe(spark, d, sigB, policy = "on-doubling")
      assert(!retrained, "a 20% delta must not trip the doubling retrain")
      TextAnalysis.maintainBpeStream(spark, d, delta, sigS, retrained)
      TextAnalysis.evictBpeMemo() // rebuild path must read the frozen table
      assert(rowSet(TextAnalysis.servedBpeStream(spark, d).get) ==
        rowSet(TextAnalysis.bpeTokenText(spark, d)),
        "frozen append != full re-encode under the frozen merges")
      // a stale stream handle refuses
      intercept[IllegalStateException] {
        TextAnalysis.maintainBpeStream(spark, d, delta, sigS,
          retrained = false)
      }
    } finally { TextAnalysis.dropBpe(spark, d)
      TextAnalysis.dropBpeStream(spark, d) }
  }

  test("nightly policies: 'always' retrains on the grown corpus; 'on-doubling' freezes the artifact until bytes double") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_policy")
    val d = dir.toString
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    // base = 60%, small delta = 10% (< doubling), big delta = 30%+rest
    val base = docs.filter(col("doc_id") < 3L * n / 5L)
    val small = docs.filter(col("doc_id") >= 3L * n / 5L &&
      col("doc_id") < 7L * n / 10L).localCheckpoint()
    base.write.parquet(s"$d/documents.parquet")
    try {
      TextAnalysis.persistBpe(spark, d)
      val frozen = rowSet(graft.lake.IndexTables
        .serve(spark, "bpem", s"$d/documents.parquet").get)

      // --- on-doubling, below threshold: stamps move, artifact frozen
      val sig1 = TextAnalysis.bpeStamp(spark, d).get
      small.write.mode("append").parquet(s"$d/documents.parquet")
      TextAnalysis.maintainBpe(spark, d, sig1, policy = "on-doubling")
      val newSig = graft.lake.SessionMemo
        .signature(s"$d/documents.parquet")
      assert(TextAnalysis.bpeStamp(spark, d).contains(newSig),
        "on-doubling restamp did not move the stamp")
      assert(rowSet(graft.lake.IndexTables
          .serve(spark, "bpem", s"$d/documents.parquet").get) == frozen,
        "on-doubling retrained below the doubling threshold")
      // consumers read the FROZEN merges (t30 == the table rows)
      TextAnalysis.evictBpeMemo()
      assert(rowSet(TextAnalysis.queries("t30_bpe_train")(spark, d)
          .select("rank", "pair", "merged", "cnt")) ==
        rowSet(graft.lake.IndexTables
          .serve(spark, "bpem", s"$d/documents.parquet").get
          .select("rank", "pair", "merged", "cnt")),
        "t30 did not serve the frozen artifact")

      // --- on-doubling, past threshold: pays the retrain
      val sig2 = TextAnalysis.bpeStamp(spark, d).get
      docs.filter(col("doc_id") >= 7L * n / 10L)
        .write.mode("append").parquet(s"$d/documents.parquet")
      // corpus bytes now ≈ 1.67× trained bytes — append the base again
      // via a shifted copy to clear 2×
      base.select((col("doc_id") + 10000000L).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .write.mode("append").parquet(s"$d/documents.parquet")
      TextAnalysis.maintainBpe(spark, d, sig2, policy = "on-doubling")
      val retrainedBytes = graft.lake.IndexTables
        .serve(spark, "bpem", s"$d/documents.parquet").get
        .select("trained_bytes").limit(1).collect()(0).getLong(0)
      assert(TextAnalysis.bpeStamp(spark, d).contains(
        graft.lake.SessionMemo.signature(s"$d/documents.parquet")))

      // --- unknown policy rejected (stamp check passes first)
      intercept[IllegalArgumentException] {
        TextAnalysis.maintainBpe(spark, d,
          TextAnalysis.bpeStamp(spark, d).get, policy = "weekly")
      }

      // --- always: retrain equals a from-scratch train on the corpus
      val sig3 = TextAnalysis.bpeStamp(spark, d).get
      TextAnalysis.maintainBpe(spark, d, sig3, policy = "always")
      TextAnalysis.evictBpeMemo()
      val served = rowSet(TextAnalysis.queries("t30_bpe_train")(spark, d))
      TextAnalysis.dropBpe(spark, d)
      TextAnalysis.evictBpeMemo()
      assert(rowSet(TextAnalysis.queries("t30_bpe_train")(spark, d))
        == served, "always-policy served t30 != from-scratch retrain")
      assert(retrainedBytes > 0L)
    } finally TextAnalysis.dropBpe(spark, d)
  }
}
