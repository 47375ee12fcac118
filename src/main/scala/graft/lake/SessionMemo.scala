package graft.lake

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session memo of a deterministic cold build: one value per
  * (SparkSession, key), stamped with the content [[SessionMemo.signature]]
  * of the input it was derived from. It is the library's one lifecycle
  * for relations reused across the queries of a session, in two storage
  * forms:
  *
  *   - CHECKPOINTED (co-order adjacency, g1 edges, LPA and refined
  *     labels, component labelings, k-means assignment, DSIR features,
  *     substring occurrences, shingle sets, BPE state and stream, media
  *     phashes, and three whole query results — d10's sorted pairs,
  *     t41's sorted cut digests and t42's sorted weights, each the last
  *     relation of its query that depends on the corpus alone): the
  *     value's lineage is truncated by a `localCheckpoint`, so no plan
  *     under it can dangle;
  *   - PERSISTED (the per-corpus indexes: LSH bucket table, float and
  *     int8 scoring indexes, labeled bucket table, s12 admission and d13
  *     band indexes): the value is `persist`ed MEMORY_AND_DISK (an
  *     executor-memory shortfall spills instead of recomputing) and keeps
  *     its lineage — it may scan a served [[IndexTables]] table, so
  *     [[SessionMemo.invalidateAll]] evicts it when that table is
  *     appended to, compacted, recovered or dropped.
  *
  * Both forms share one serving contract:
  *
  *   - a HIT returns the stored value when the signature still matches
  *     AND every `localCheckpoint` block the value reads is still held
  *     by a block manager;
  *   - a STALE entry (the signature moved: the corpus was rewritten or
  *     appended to) is rebuilt, and a persisted one unpersisted. A
  *     stale-index read is a correctness hazard, not a perf one;
  *   - a LOST entry (executor loss, dynamic-allocation scale-down, or an
  *     `unpersist` dropped a checkpoint block) is rebuilt too. A local
  *     checkpoint has no lineage to recompute from, so serving it would
  *     fail every later call with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  *     The liveness check runs on every hit, not only on a signature
  *     change: a rebuild that reads another memo (g5's labeling reads
  *     the co-order adjacency) must find that one dead as well;
  *   - entries of stopped sessions are swept on every access (their
  *     blocks died with the session's executors).
  *
  * `build` runs inside the map's `compute`, so concurrent callers of one
  * key build once. A build may read OTHER memos, never its own.
  * `frames` names the DataFrames of a value whose blocks must survive
  * (and, persisted, the ones persisted and released).
  */
final class SessionMemo[K, V](frames: V => Seq[DataFrame],
    persisted: Boolean = false) {

  private val entries = new ConcurrentHashMap[(SparkSession, K), (String, V)]()

  /** Builds so far: specs tell a hit from a rebuild by it (the returned
    * value is equal either way).
    */
  private[graft] val builds = new AtomicLong

  /** Values served without a build. */
  private[graft] val hits = new AtomicLong

  /** Builds of an entry whose signature still matched but whose
    * checkpoint blocks were gone (counted in [[builds]] too).
    */
  private[graft] val lostRebuilds = new AtomicLong

  /** Entries dropped by [[SessionMemo.invalidateAll]]. */
  private[graft] val evictions = new AtomicLong

  if (persisted) SessionMemo.persistedMemos.add(this)

  /** The value for (s, k), built when absent, stale against `sig`, or
    * missing a checkpoint block.
    */
  def apply(s: SparkSession, k: K, sig: String)(build: => V): V = {
    sweep()
    entries.compute((s, k), (_, cur) =>
      if (cur != null && cur._1 == sig && SessionMemo.live(frames(cur._2))) {
        hits.incrementAndGet()
        cur
      } else {
        if (cur != null) release(cur._2)
        if (cur != null && cur._1 == sig) lostRebuilds.incrementAndGet()
        builds.incrementAndGet()
        val v = build
        if (persisted) frames(v).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
        (sig, v)
      })._2
  }

  /** The stored value for (s, k) when it is fresh against `sig` and
    * live, without building on a miss.
    */
  def hit(s: SparkSession, k: K, sig: String): Option[V] = {
    sweep()
    Option(entries.get((s, k))).collect {
      case (`sig`, v) if SessionMemo.live(frames(v)) =>
        hits.incrementAndGet()
        v
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

  /** Drop (and release) every entry keyed `k`, across sessions. */
  private def evict(k: Any): Unit =
    entries.entrySet.removeIf { e =>
      val hit = e.getKey._2 == k
      if (hit) {
        release(e.getValue._2)
        evictions.incrementAndGet()
      }
      hit
    }

  private def release(v: V): Unit =
    if (persisted) frames(v).foreach { df =>
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () } // session already stopped
    }

  private def sweep(): Unit =
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
}

object SessionMemo {

  /** Every persisted memo, so a cross-cutting eviction
    * ([[IndexTables.drop]] removing the table a cached plan scans) can
    * reach the path in all of them without the lake layer knowing which
    * subsystem holds which memo.
    */
  private val persistedMemos =
    ConcurrentHashMap.newKeySet[SessionMemo[_, _]]()

  /** Evict (and unpersist) `path` from every persisted memo. Checkpointed
    * entries stay: their lineage is truncated, so a table change under
    * them leaves no dangling plan, and `Graph.warmLpaAfterAppend` reads
    * the LPA memo of a tier right after an append invalidated it.
    */
  def invalidateAll(path: String): Unit =
    persistedMemos.forEach(_.evict(path))

  /** A memo of one DataFrame per (session, path), signed by the path's
    * [[signature]]: `build` returns the lazy relation and the memo
    * stores it in its form.
    */
  sealed abstract class ByPath(persisted: Boolean) {
    private val memo = new SessionMemo[String, DataFrame](Seq(_), persisted)
    private[graft] def builds: AtomicLong = memo.builds
    private[graft] def hits: AtomicLong = memo.hits
    private[graft] def lostRebuilds: AtomicLong = memo.lostRebuilds
    private[graft] def evictions: AtomicLong = memo.evictions
    def apply(s: SparkSession, path: String)(build: => DataFrame): DataFrame =
      memo(s, path, signature(path))(
        if (persisted) build else build.localCheckpoint())
  }

  /** `localCheckpoint`s the relation. */
  final class Checkpointed extends ByPath(persisted = false)

  /** Persists the relation MEMORY_AND_DISK; [[invalidateAll]] reaches it. */
  final class Persisted extends ByPath(persisted = true)

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

  /** Content signature of a table path: md5 over the sorted recursive
    * listing's (relative name, length, mtime-millis) triples. Parquet
    * rewrites always move it — Spark part files carry per-write UUIDs,
    * so even a same-size rewrite does. One filesystem listing of the
    * table dir per query construction: O(files) metadata, the order of
    * the scan planning Spark does anyway. A missing path signs as
    * "absent" rather than throwing: the build that follows will surface
    * the real read error.
    */
  def signature(path: String): String = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return "absent"
    val sb = new StringBuilder
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.sorted().forEach { p =>
        val a = java.nio.file.Files.readAttributes(
          p, classOf[java.nio.file.attribute.BasicFileAttributes])
        sb.append(root.relativize(p).toString).append('|')
          .append(a.size()).append('|')
          .append(a.lastModifiedTime().toMillis).append('\n')
      }
    } finally stream.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
