package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-portable hash primitives for the LLM-data-pipeline
  * operators (dedup / LSH / fingerprinting).
  *
  * The driver's correctness gate hash-compares Spark output against
  * DuckDB running the oracle SQL on the same parquet — so every hash
  * that *reaches the output* (or decides which rows reach it) must be
  * computable identically in both engines. `xxhash64`/`hash` are
  * Spark-private; md5 is the common denominator:
  *
  *   h32(s) = int(md5(s)[0:8], 16)        — a uniform 32-bit value
  *   Spark:  cast(conv(substr(md5(s),1,8),16,10) as bigint)
  *   DuckDB: cast('0x' || substr(md5(s),1,8) as bigint)
  *
  * Scale note (100 TB): md5 is ~10× slower than xxhash64 per byte, but
  * the hash runs inside a narrow projection (no shuffle, no spill,
  * whole-stage codegen keeps it in the scan stage), so dedup stays
  * scan-bound. The production swap is a first-class code path: the
  * dedup cores take a [[HashFamily]] and [[xxFamily]] is the xxhash64
  * instance (recall-equivalence tested in LlmPipelineSpec).
  */
object Hashing {

  /** SQL fragment: portable 32-bit hash of the string expression `s`. */
  def h32Sql(s: String): String =
    s"cast(conv(substr(md5($s),1,8),16,10) as bigint)"

  /** Column form of [[h32Sql]]. */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("bigint")

  /** DuckDB-side rendering of the same hash, for oracle SQL authoring. */
  def h32Duck(s: String): String =
    s"CAST('0x' || substr(md5($s),1,8) AS BIGINT)"

  /** 60-bit variant (15 hex chars — 16 would overflow signed int64 when
    * the high bit is set). Used where 32 bits collide too much, e.g. the
    * simhash bit source.
    */
  def h60Sql(s: String): String =
    s"cast(conv(substr(md5($s),1,15),16,10) as bigint)"

  def h60Duck(s: String): String =
    s"CAST('0x' || substr(md5($s),1,15) AS BIGINT)"

  /** A pluggable hash family for the dedup/LSH candidate cores.
    * [[md5Family]] (default) is the cross-engine-portable form the
    * DuckDB oracle gate requires; [[xxFamily]] is the production swap.
    *
    * `kernelXx` marks whether [[TextKernels]] has a per-row native
    * kernel computing this family (false = md5, true = xxhash64): when
    * set, the signature stages run as one narrow projection instead of
    * explode + hash-aggregate. A caller-supplied custom family leaves
    * it None and takes the SQL-fragment aggregate path.
    */
  final case class HashFamily(h32: String => String, h60: String => String,
      kernelXx: Option[Boolean] = None)

  val md5Family: HashFamily = HashFamily(h32Sql, h60Sql, Some(false))

  /** Production family: xxhash64 masked to the same non-negative
    * 32-/60-bit ranges as the md5 forms (so the minhash universal-hash
    * arithmetic stays overflow-free). Spark-native and ~10× cheaper per
    * byte than md5, but NOT reproducible in DuckDB — use it on runs
    * without the cross-engine gate. Measured (sf0.1):
    * d2 candidate pipeline 2.45 s → 2.09 s (1.17×) — modest here
    * because the testdata docs are short and the pipeline is
    * explode/agg/join-bound; the hash's share grows linearly with
    * document length, so real corpora gain more.
    */
  val xxFamily: HashFamily = HashFamily(
    s => s"(xxhash64($s) & 4294967295)",
    s => s"(xxhash64($s) & 1152921504606846975)",
    Some(true))

  /** Driver-side evaluation of h32 — bit-identical to the SQL forms.
    * Used to precompute row-independent constants (e.g. LSH hyperplane
    * components) as literals instead of re-hashing per row.
    */
  def h32Host(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }
}
