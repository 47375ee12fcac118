package graft.lake

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session memo of a deterministic cold build: one value per
  * (SparkSession, key), stamped with the content signature of the input
  * it was derived from. It is the one lifecycle behind the library's
  * checkpointed corpus relations (co-order adjacency, g1 edges, LPA and
  * refined labels, component labelings, k-means assignment, DSIR
  * features, substring occurrences, shingle sets, BPE state and stream,
  * media phashes):
  *
  *   - a HIT returns the stored value when the signature still matches
  *     AND every `localCheckpoint` block the value reads is still held
  *     by a block manager;
  *   - a STALE entry (the signature moved: the corpus was rewritten or
  *     appended to) is rebuilt;
  *   - a LOST entry (executor loss, dynamic-allocation scale-down, or an
  *     `unpersist` dropped a checkpoint block) is rebuilt too. A local
  *     checkpoint has no lineage to recompute from, so serving it would
  *     fail every later call with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  *     The liveness check runs on every hit, not only on a signature
  *     change: a rebuild that reads another memo (g5's labeling reads
  *     the co-order adjacency) must find that one dead as well;
  *   - entries of stopped sessions are swept on every access.
  *
  * `build` runs inside the map's `compute`, so concurrent callers of one
  * key build once. A build may read OTHER memos, never its own.
  * `frames` names the DataFrames of a value whose blocks must survive.
  */
final class SessionMemo[K, V](frames: V => Seq[DataFrame]) {

  private val entries = new ConcurrentHashMap[(SparkSession, K), (String, V)]()

  /** The value for (s, k), built when absent, stale against `sig`, or
    * missing a checkpoint block.
    */
  def apply(s: SparkSession, k: K, sig: String)(build: => V): V = {
    sweep()
    entries.compute((s, k), (_, cur) =>
      if (cur != null && cur._1 == sig && SessionMemo.live(frames(cur._2))) cur
      else (sig, build))._2
  }

  /** The stored value for (s, k) when it is fresh against `sig` and
    * live, without building on a miss.
    */
  def hit(s: SparkSession, k: K, sig: String): Option[V] = {
    sweep()
    Option(entries.get((s, k))).collect {
      case (`sig`, v) if SessionMemo.live(frames(v)) => v
    }
  }

  /** The stored (signature, value) for (s, k), fresh or not. */
  def peek(s: SparkSession, k: K): Option[(String, V)] =
    Option(entries.get((s, k)))

  /** Store a value built outside [[apply]] (an incremental update). */
  def put(s: SparkSession, k: K, sig: String, v: V): Unit =
    entries.put((s, k), (sig, v))

  /** Drop every entry. */
  def clear(): Unit = entries.clear()

  private def sweep(): Unit =
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
}

object SessionMemo {

  /** A memo of one checkpointed DataFrame per (session, tier dir),
    * signed by the tier's [[CorpusIndexCache.signature]]: `build`
    * returns the lazy relation and the memo `localCheckpoint`s it.
    */
  final class Checkpointed {
    private val memo = new SessionMemo[String, DataFrame](Seq(_))
    def apply(s: SparkSession, d: String)(build: => DataFrame): DataFrame =
      memo(s, d, CorpusIndexCache.signature(d))(build.localCheckpoint())
  }

  /** Every local checkpoint the frames read still has all its blocks.
    * Frames without checkpoints (local relations, reliable checkpoints,
    * plain lineage) recompute on their own and count as live.
    */
  def live(dfs: Seq[DataFrame]): Boolean = {
    val local = dfs.flatMap(_.queryExecution.logical.collect {
      case r: LogicalRDD if r.rdd.isCheckpointed &&
          r.rdd.getCheckpointFile.isEmpty => r.rdd
    })
    local.forall(_.getStorageLevel.isValid) &&
      org.apache.spark.graft.BlockLiveness.allCached(local)
  }
}
