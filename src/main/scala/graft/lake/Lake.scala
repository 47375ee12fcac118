package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.time.LocalDate

/** Partitioned-parquet lake layout of the reference (SURVEY.md §2.1 S3,
  * §2.2 K1/K2/K4): Hive-style `ano=YYYY/mes=MM/dia=DD` raw zone and
  * `(acao, created_at)`-partitioned refined zone, snappy parquet, with
  * schema-drift-tolerant reads (§1.3).
  */
object Lake {

  /** S3 (ETL_glue_pregao_B3.json:269-343): recursive partitioned-parquet
    * scan. Drift tolerance per SURVEY §1.3: either merge file schemas or
    * impose an explicit superset schema (missing columns read as null —
    * exactly Glue's `UPDATE_IN_DATABASE` evolution behavior).
    *
    * Scale: `mergeSchema` footer-merges every file's schema — O(files) on
    * the driver. At 100 TB prefer the explicit superset schema: constant
    * cost, and still lets Catalyst prune partitions and push filters.
    */
  def readRaw(spark: SparkSession, path: String,
      superset: Option[StructType] = None): DataFrame =
    superset match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.option("mergeSchema", "true").parquet(path)
    }

  /** JSONL source — the de-facto training-data interchange format
    * (corpora ship as one-JSON-object-per-line dumps long before they
    * become parquet). Contract for 100 TB ingests:
    *
    *   - EXPLICIT schema, never inference: schema inference is a full
    *     extra pass over the data, and a drifting field silently
    *     retypes the column on the next drop. Fields absent from a
    *     line read as null (drift tolerance, same as [[readRaw]]).
    *   - PERMISSIVE + corrupt-record capture: one malformed line among
    *     billions must neither kill the job (FAILFAST) nor vanish
    *     (DROPMALFORMED). The raw line lands in `_corrupt_record`;
    *     [[quarantine]] splits clean rows from rejects so the job can
    *     load the one and audit the other — the reject-file pattern of
    *     every production loader.
    *
    * The returned frame still prunes/pushes down like any file scan;
    * JSON decode is per-line CPU, so at scale this feeds the raw→
    * parquet conversion once rather than serving queries directly.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val withReject = schema.add("_corrupt_record", "string")
    spark.read
      .schema(withReject)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** CSV source with an EXPLICIT schema and PERMISSIVE reject capture —
    * the interchange-format twin of [[readJsonl]] with the same
    * [[quarantine]] contract. Explicit schema for the same reason as
    * JSONL: schema inference is a full extra pass over 100 TB and infers
    * from whatever garbage the worst file contains; the load declares
    * its contract and malformed rows land in `_corrupt_record` instead
    * of failing the job (the reference's `errors='coerce'` posture at
    * the file boundary).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame = {
    val withReject = schema.add("_corrupt_record", "string")
    spark.read
      .schema(withReject)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }

  /** Split a [[readJsonl]]/[[readCsv]] frame into (clean rows sans
    * reject column, rejected raw lines). Spark requires caching the
    * frame before filtering on `_corrupt_record` (the column is filled
    * during parsing, not derivable afterwards).
    */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    val cached = df.cache()
    val clean = cached.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val rejects = cached.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, rejects)
  }

  /** K1 (src/etl.py:191-221): date-partitioned raw write. Partition values
    * zero-padded (`mes=08`) like the reference paths (src/etl.py:203).
    * Dynamic partition overwrite makes the daily re-run idempotent without
    * truncating other days — the reference got this by writing one fixed
    * filename per day.
    */
  def writeRawDaily(df: DataFrame, path: String, date: LocalDate): Unit =
    df.withColumn("ano", lit(f"${date.getYear}%04d"))
      .withColumn("mes", lit(f"${date.getMonthValue}%02d"))
      .withColumn("dia", lit(f"${date.getDayOfMonth}%02d"))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy("ano", "mes", "dia")
      .parquet(path)

  /** K2 (ETL_glue_pregao_B3.json:240-268): refined-zone append, snappy,
    * partitioned by (acao, created_at); optionally registered in the
    * catalog (Glue's `tech_fiap.b3_fiap` ≙ `saveAsTable`).
    *
    * Catalog schema EVOLUTION on drift (the reference's
    * `enableUpdateCatalog` + `UPDATE_IN_DATABASE` + `schemaAndPartitions`,
    * ETL_glue_pregao_B3.json:255-261; SURVEY §1.3 calls drift tolerance
    * first-class): a batch carrying columns the catalog has never seen
    * ADDs them to the table schema before the append — rows already in
    * the table read the new columns as null (parquet by-name
    * resolution). Drift the other way (a batch MISSING known columns)
    * null-fills, so a thinner upstream day can't fail the load. Catalog
    * metadata ops are driver-side and O(columns) — nothing touches data
    * files at any scale.
    */
  def writeRefined(df: DataFrame, path: String,
      table: Option[String] = None): Unit = table match {
    case Some(t) =>
      val spark = df.sparkSession
      val aligned =
        if (!spark.catalog.tableExists(t)) df
        else {
          val known = spark.table(t).schema.fieldNames
            .map(_.toLowerCase).toSet
          val added = df.schema.fields
            .filterNot(f => known(f.name.toLowerCase))
          if (added.nonEmpty) {
            val ddl = added
              .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
            spark.sql(s"ALTER TABLE $t ADD COLUMNS ($ddl)")
          }
          val have = df.columns.map(_.toLowerCase).toSet
          df.select(spark.table(t).schema.fields.map(f =>
            if (have(f.name.toLowerCase)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        }
      aligned.write.mode("append").option("compression", "snappy")
        .partitionBy("acao", "created_at")
        .option("path", path).format("parquet").saveAsTable(t)
    case None =>
      df.write.mode("append").option("compression", "snappy")
        .partitionBy("acao", "created_at").parquet(path)
  }

  /** K6 (src/query_db.py:36-43) rewritten for an immutable lake: the SQL
    * `UPDATE ... SET data_hora = now()-1d WHERE data_hora IS NULL` becomes
    * a coalesce-projection + partition overwrite. No in-place mutation on
    * parquet (SURVEY §2.2 K6 caveat).
    */
  def backfillDataHora(df: DataFrame): DataFrame =
    df.withColumn("data_hora",
      coalesce(col("data_hora"),
        date_format(timestamp_add("DAY", lit(-1), current_timestamp()),
          "yyyy-MM-dd HH:mm:ss")))

  /** Small-file compaction (SURVEY §4: the reference writes ~6 KB/day
    * files — lethal at 100 TB). Rewrites a table directory to
    * `ceil(bytes / targetFileBytes)` files and swaps the result into
    * place. Uses the scan's input size statistic, not a collect.
    *
    * Swap order: original → `<path>_old`, tmp → original, delete
    * `_old` — so the old data survives every failure point (a crash
    * leaves it recoverable at `_old` or still in place), and the
    * no-data window readers can observe is one rename, not a
    * delete+rename. Still not transactional — a reader can hit
    * path-not-found inside that one-rename window on stores without
    * atomic rename; a table format (Delta/Iceberg) is the real fix at
    * 100 TB.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val df = spark.read.parquet(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1, (bytes / BigInt(targetFileBytes)).toInt +
      (if (bytes % BigInt(targetFileBytes) > 0) 1 else 0))
    val tmp = path.stripSuffix("/") + "_compacting"
    df.repartition(files).write.mode("overwrite")
      .option("compression", "snappy").parquet(tmp)
    swapInto(spark, tmp, path)
  }

  /** Rename-aside directory swap shared by [[compact]] and
    * [[commitUpsert]]: original → `_old`, tmp → original, delete `_old`.
    * Old data survives every failure point; the reader-visible no-data
    * window is one rename.
    */
  private[graft] def swapInto(spark: SparkSession, tmp: String, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "_old")
    val fs = target.getFileSystem(conf)
    fs.delete(old, true) // leftover of a previously-failed swap
    if (!fs.rename(target, old))
      throw new java.io.IOException(
        s"swap: rename $path -> $old failed; table untouched, new data at $tmp")
    // a missing staging dir makes rename THROW (FileNotFoundException)
    // rather than return false on local/HDFS filesystems — treat both
    // as the same failed-swap state so the rollback below runs instead
    // of stranding the store at `_old` (ADVICE r17 follow-through)
    val renamed =
      try fs.rename(tmpPath, target)
      catch { case _: java.io.FileNotFoundException => false }
    if (!renamed) {
      // roll back so readers keep the old files — and if THAT rename
      // also fails, say where the data actually is instead of claiming
      // a restore that didn't happen
      val restored = fs.rename(old, target)
      throw new java.io.IOException(
        if (restored)
          s"swap: rename $tmp -> $path failed; original restored"
        else
          s"swap: rename $tmp -> $path failed AND rollback failed; " +
            s"$path is EMPTY — original data at $old, new data at $tmp")
    }
    fs.delete(old, true)
  }

  /** K-layer extension: keyed upsert into a parquet directory — the
    * lake analogue of the reference's JDBC append (K3) + UPDATE (K6)
    * pair for the refined zone. Parquet is immutable, so upsert =
    * anti-join existing rows against the incoming keys, union the
    * increment, rewrite, swap.
    *
    * Scale contract: point `path` at ONE partition directory (the day /
    * acao dir the increment touches), not a table root — the rewrite is
    * O(partition), and partition pruning keeps concurrent readers off
    * the swap. Row-level MERGE without the rewrite needs a table format
    * (Delta/Iceberg); this is the non-transactional Hive-style
    * equivalent, same contract as every INSERT OVERWRITE. (Adjudicated
    * r4: neither format's jars exist in this environment's offline
    * cache, so MERGE is not implementable here — see PROGRESS.)
    *
    * Caller contract (r3 review): the INCREMENT must be key-unique —
    * only EXISTING rows are anti-joined, so two same-key rows arriving
    * in one increment are both kept (dedup upstream; an implicit
    * dropDuplicates here would pick an arbitrary winner and hide the
    * bug). SINGLE WRITER assumed: the exists/write check and the swap
    * are not atomic against a concurrent upsert into the same path —
    * serialize per-partition upserts (the reference's daily-job cadence
    * does this by construction); concurrent writers need Delta/Iceberg.
    */
  /** Incremental aggregation zone (K-layer extension): persist per-day
    * PARTIAL aggregates — (group, sum, count) — and answer period
    * queries by merging partials, never by re-scanning raw history.
    * This is the storage-level form of the map-side combine Spark
    * already does in memory: sum-of-sums and sum-of-counts are the
    * merge, avg is derived at read. At 100 TB the difference is a
    * rollup query that reads |days|·|groups| partial rows instead of
    * the raw fact table, and a daily append that scans ONE day.
    *
    * Only algebraic aggregates decompose this way (sum/count/min/max
    * and anything derived from them, like avg; a6's HLL sketches also
    * merge — exact distinct counts do NOT). The day partition reuses
    * [[writeRawDaily]]'s dynamic overwrite, so re-running a day
    * replaces exactly that day's partials: the append is idempotent.
    */
  def appendDailyPartials(df: DataFrame, path: String, date: LocalDate,
      groupCols: Seq[String], valueCol: String): Unit =
    writeDayPartition(
      df.groupBy(groupCols.map(col): _*)
        .agg(sum(col(valueCol)).as("p_sum"),
          count(col(valueCol)).as("p_cnt")),
      path, date)

  /** Write one day's partials, honoring the idempotent-replacement
    * contract even when the re-run aggregates to ZERO rows: dynamic
    * overwrite only replaces partitions present in the output, so an
    * empty corrected re-run would silently leave the retracted day's
    * stale partials counting — delete the day's partition explicitly in
    * that case. The emptiness probe runs on the aggregated (tiny)
    * frame, not the input.
    */
  private def writeDayPartition(partials: DataFrame, path: String,
      date: LocalDate): Unit = {
    val cached = partials.cache()
    try {
      if (cached.isEmpty) {
        val dayDir = new org.apache.hadoop.fs.Path(
          f"${path.stripSuffix("/")}/ano=${date.getYear}%04d/" +
            f"mes=${date.getMonthValue}%02d/dia=${date.getDayOfMonth}%02d")
        val fs = dayDir.getFileSystem(
          partials.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(dayDir, true)
        ()
      } else writeRawDaily(cached, path, date)
    } finally { cached.unpersist(); () }
  }

  /** Merge the partial-aggregate zone back to (group, sum, cnt, avg) —
    * the read half of [[appendDailyPartials]]. `period` filters on the
    * partition columns BEFORE the merge (it must be a parameter: after
    * the groupBy the day columns are consumed, so a filter on the
    * result could never prune) — partition pruning then makes "last 7
    * days" read 7 partitions of partials.
    */
  def readMergedAggregate(spark: SparkSession, path: String,
      groupCols: Seq[String],
      period: Column = lit(true)): DataFrame =
    spark.read.parquet(path)
      .filter(period)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("p_sum").as("total"), sum("p_cnt").as("cnt"))
      .withColumn("avg", col("total") / col("cnt"))

  /** Sketch partials: the [[appendDailyPartials]] pattern for the
    * aggregate that does NOT decompose into sums — distinct counts.
    * Exact per-day distinct counts cannot be merged across days (the
    * same key may appear on many days), but HLL sketches CAN: store one
    * DataSketches HLL binary per (group, day), union them at read.
    * Error stays the sketch's (~2% at default lgK=12) regardless of how
    * many days merge; a 365-day distinct-users query reads 365 sketch
    * rows per group. Same idempotent day-overwrite layout as the sum
    * partials.
    */
  def appendDailySketch(df: DataFrame, path: String, date: LocalDate,
      groupCols: Seq[String], valueCol: String): Unit =
    writeDayPartition(
      df.groupBy(groupCols.map(col): _*)
        .agg(hll_sketch_agg(col(valueCol)).as("p_hll")),
      path, date)

  /** Merge the sketch zone to (group, approx_distinct) — the read half
    * of [[appendDailySketch]]; `period` prunes day partitions before
    * the union, as in [[readMergedAggregate]]. */
  def readMergedDistinct(spark: SparkSession, path: String,
      groupCols: Seq[String],
      period: Column = lit(true)): DataFrame =
    spark.read.parquet(path)
      .filter(period)
      .groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("p_hll")))
        .as("approx_distinct"))

  /** Clustered write: range-partition on `sortCols` and sort within
    * each output file, so parquet row-group min/max statistics become
    * SELECTIVE — a point/range filter on the sort prefix then decodes
    * only the row groups whose stat range matches, instead of every
    * row group (stats on randomly-ordered data span the whole domain
    * and skip nothing). This is the poor-man's z-order: the 100 TB
    * scan-cost lever for predicates on columns the partition layout
    * does NOT cover. `rowGroupBytes` is deliberately small in tests to
    * force many row groups; production leaves the 128 MB default.
    */
  def writeClustered(df: DataFrame, path: String, sortCols: Seq[String],
      rowGroupBytes: Long = 128L << 20): Unit =
    df.repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .option("compression", "snappy")
      .parquet(path)

  /** Snapshot diff — the audit step between two corpus versions (what
    * did last night's curation run add, drop, rewrite?): returns
    * (key, status) with status ∈ added | removed | changed, where
    * `changed` compares an md5 over `compareCols` (order as given).
    * One full-outer join on the key of two (key, fingerprint)
    * projections — each side is reduced to two columns before the
    * shuffle, so the diff moves fingerprints, never payloads. Unchanged
    * rows are not emitted (at 100 TB the diff is small; the identity
    * set is the frame you already have).
    */
  def diffSnapshots(oldSnap: DataFrame, newSnap: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    // to_json keeps field boundaries and null-vs-empty distinct, which
    // a separator-free concat would conflate ("ab"+"" vs "a"+"b")
    def fp(df: DataFrame, side: String) = df.select(
      col(key),
      md5(to_json(struct(compareCols.map(col): _*))).as(s"__fp_$side"))
    fp(oldSnap, "old").join(fp(newSnap, "new"), Seq(key), "full_outer")
      .withColumn("status",
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") =!= col("__fp_new"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(key), col("status"))
  }

  // ------------------------------------------- optimistic commit guard

  /** The store's commit marker path — OUTSIDE the parquet directory
    * (the upsert swap replaces the whole dir; a marker inside would be
    * erased by the very commit it witnesses).
    */
  private def commitMarker(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "_commit")

  /** The store's current commit token, if any writer has ever stamped
    * it. Absent ≡ "no guarded write yet" — a legal expected value.
    */
  def readCommitStamp(spark: SparkSession, path: String): Option[String] = {
    val m = commitMarker(path)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  private def writeCommitStamp(spark: SparkSession, path: String,
      token: String): Unit = {
    val m = commitMarker(path)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(m, true)
    try out.write(token.getBytes("UTF-8")) finally out.close()
  }

  // ------------------------------------ write-ahead intent manifest
  // (r16 verdict #5): the guarded commit's residue was the re-check →
  // swap window — two filesystem renames with nothing naming the
  // in-flight commit, so a crash inside it needed manual repair and a
  // racing writer could slip through between the loser's re-check and
  // the winner's stamp. The manifest closes it the WAL way: BEFORE the
  // swap, the winner writes an intent file naming its token + staging
  // dir; the swap + stamp complete under that intent; the intent is
  // cleared last. A crash anywhere inside leaves the intent on disk,
  // from which [[recoverCommit]] replays the commit to completion (the
  // staging rows were already fully written — recovery is renames +
  // a stamp, no data work). A RACING guarded writer treats a live
  // intent exactly like a moved stamp: ConcurrentModificationException
  // at its re-check. Still not a transactional table format — two
  // writers can interleave BUILD phases — but every torn state is now
  // either self-healing (crashed winner) or detected (racing loser).

  private def intentMarker(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "_intent")

  /** The in-flight commit intent for `path`, if a guarded writer
    * crashed (or is right now) between its re-check and its stamp:
    * (token, stagingDir).
    */
  def readIntent(spark: SparkSession,
      path: String): Option[(String, String)] = {
    val m = intentMarker(path)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      txt.split("\n", 2) match {
        case Array(token, tmp) => Some((token, tmp))
        case _ => None
      }
    }
  }

  /** Acquire the intent with ATOMIC CREATE-EXCLUSIVE (ADVICE r17): two
    * writers that both passed their re-check before either wrote an
    * intent used to overwrite each other's marker (create overwrite =
    * true), so BOTH proceeded to swap — and the loser's surviving
    * intent could later stamp ITS token onto the winner's data through
    * [[recoverCommit]]'s "staging gone, target present" arm. With
    * `create(m, false)` the filesystem arbitrates: the second creator
    * fails atomically and is translated to the same
    * ConcurrentModificationException contract as a moved stamp.
    */
  private[graft] def writeIntent(spark: SparkSession, path: String,
      token: String, tmp: String): Unit = {
    val m = intentMarker(path)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out =
      try fs.create(m, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"commit($path): another writer's intent landed first — lost " +
              "the race at the intent acquire; if its writer crashed, run " +
              "Lake.recoverCommit and retry from a fresh read")
      }
    try out.write(s"$token\n$tmp".getBytes("UTF-8")) finally out.close()
  }

  private def clearIntent(spark: SparkSession, path: String): Unit = {
    val m = intentMarker(path)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(m, false)
  }

  /** Replay a crashed guarded commit to completion — the manual-repair
    * step [[commitUpsert]]'s old residue demanded, now mechanical.
    * Returns true when something was repaired. Single-recoverer
    * contract (run it before restarting writers, not concurrently with
    * them). The intent pins exactly one of four torn states, each with
    * one safe exit:
    *   - stamp already == intent token: swap + stamp completed, only
    *     the intent clear was lost → clear it;
    *   - staging dir still present: the swap itself was torn (or never
    *     started) → re-run [[swapInto]] (it heals its own partial
    *     states: a leftover `_old` aside is deleted, a missing target
    *     is re-created from staging), stamp, clear;
    *   - staging gone, target present: the swap finished but the stamp
    *     write was lost → stamp the intent token, clear;
    *   - staging AND target gone, `_old` aside present (the double
    *     rename failure swapInto reports): restore the aside — the
    *     commit did NOT land and the writer must retry from a fresh
    *     read.
    */
  def recoverCommit(spark: SparkSession, path: String): Boolean =
    readIntent(spark, path) match {
      case None => false
      case Some((token, tmp)) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val target = new org.apache.hadoop.fs.Path(path)
        val tmpPath = new org.apache.hadoop.fs.Path(tmp)
        val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "_old")
        val fs = target.getFileSystem(conf)
        if (readCommitStamp(spark, path).contains(token)) ()
        else if (fs.exists(tmpPath)) {
          if (fs.exists(target)) swapInto(spark, tmp, path)
          else {
            // crash between rename(target -> old) and rename(tmp -> target)
            if (!fs.rename(tmpPath, target))
              throw new java.io.IOException(
                s"recoverCommit: rename $tmp -> $path failed; " +
                  s"originals at $old")
            fs.delete(old, true)
          }
          writeCommitStamp(spark, path, token)
        } else if (fs.exists(target)) {
          fs.delete(old, true)
          writeCommitStamp(spark, path, token)
        } else if (fs.exists(old)) {
          if (!fs.rename(old, target))
            throw new java.io.IOException(
              s"recoverCommit: restore $old -> $path failed")
          // the commit did not land; the old stamp (if any) still
          // describes the restored rows — do not move it
        } else throw new java.io.IOException(
          s"recoverCommit($path): intent names staging $tmp but neither " +
            "staging, target, nor aside exists — nothing to restore")
        clearIntent(spark, path)
        true
    }

  /** Sweep a directory for live commit intents and replay each to
    * completion (r17 verdict #6 — [[recoverCommit]] existed but nothing
    * called it unprompted, so a crashed winner's intent sat until a
    * racing writer happened to trip over it). Intent markers are
    * `<store>_intent` siblings of their store, so one non-recursive
    * listing of the stores' parent finds every guarded store's intent.
    * Single-recoverer contract inherited from [[recoverCommit]]: run
    * from a maintenance window (Maintenance.nightly does, step 0),
    * not concurrently with live writers. Returns the recovered store
    * paths.
    */
  def recoverAllCommits(spark: SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith("_intent"))
      .map(st => new org.apache.hadoop.fs.Path(root,
        st.getPath.getName.stripSuffix("_intent")).toString)
      .filter(recoverCommit(spark, _))
  }

  /** Key-based upsert: rows in `increment` replace same-key rows in the
    * store at `path`; everything else is kept. CONTRACT:
    *  - `increment` must be KEY-UNIQUE — enforced with one agg over the
    *    increment (the small side by construction), because a duplicated
    *    key would silently land twice and poison every later read;
    *    failing fast beats nondeterministically dropping one.
    *  - MULTI-WRITER safe by optimistic concurrency over the commit
    *    marker: read the stamp, build the rewritten store into staging,
    *    RE-CHECK the stamp, and only then swap + bump. A concurrent
    *    guarded writer that committed in between moves the stamp, so the
    *    re-check throws ConcurrentModificationException (the loser's
    *    staging is cleaned up; the winner's rows survive —
    *    ConcurrencySpec pins the two-writer interleaving) instead of a
    *    silent lost update. The write-ahead intent (below) covers the
    *    re-check→swap window: a crashed winner is replayed by
    *    [[recoverCommit]], and a racing writer refuses at a live intent.
    */
  def upsertByKeyGuarded(spark: SparkSession, increment: DataFrame,
      path: String, key: String): Unit =
    commitUpsert(spark, increment, path, key, readCommitStamp(spark, path))

  /** The guarded upsert against an EXPLICIT expected stamp — the handle
    * form (callers that read the stamp, did other work, and want the
    * commit to fail if anything landed since; also what the two-writer
    * spec drives).
    */
  def commitUpsert(spark: SparkSession, increment: DataFrame, path: String,
      key: String, expected: Option[String]): Unit =
    commitUpsertImpl(spark, increment, path, key, expected, () => ())

  /** [[commitUpsert]] with a crash failpoint between the intent write
    * and the swap — ConcurrencySpec drives the crashed-winner recovery
    * through it; production callers use the no-op wrapper above.
    */
  private[graft] def commitUpsertImpl(spark: SparkSession,
      increment: DataFrame, path: String, key: String,
      expected: Option[String], beforeSwap: () => Unit,
      beforeIntent: () => Unit = () => ()): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def recheck(): Unit = {
      // checked at ENTRY too (below), before this writer builds its
      // staging: the staging dir name is shared, so building past a
      // live intent would clobber the crashed winner's fully-written
      // rows before recoverCommit could replay them
      // a live intent is a writer mid-swap (or crashed mid-swap): the
      // same loss-of-race as a moved stamp, plus a pointer to
      // recoverCommit for the crashed case (r16 verdict #5)
      readIntent(spark, path).foreach { case (tok, _) =>
        throw new java.util.ConcurrentModificationException(
          s"commitUpsert($path): a commit intent ($tok) is live — another " +
            "writer is mid-swap, or crashed there; run Lake.recoverCommit " +
            "and retry from a fresh read")
      }
      val now = readCommitStamp(spark, path)
      if (now != expected)
        throw new java.util.ConcurrentModificationException(
          s"commitUpsert($path): commit stamp moved $expected -> $now " +
            "during the rewrite — a concurrent writer committed; retry " +
            "from a fresh read")
    }
    // the duplicate check stays its own pass over the increment: folding
    // it into the anti-join's key-side aggregate is unsound, because the
    // optimizer infers `isnotnull(key)` on that side, so two null-key
    // rows would pass
    val dup = increment.groupBy(key).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty, s"commitUpsert: increment has duplicate key " +
      s"'$key' = ${dup.head.get(0)}; dedup the increment first (e.g. " +
      "latest-per-key) — which row wins is the caller's business rule")
    recheck() // early: refuse before clobbering a crashed winner's staging
    val token = java.util.UUID.randomUUID().toString
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) {
      recheck() // a guarded writer may have created the store just now
      increment.write.option("compression", "snappy").parquet(path)
      writeCommitStamp(spark, path, token)
      return
    }
    // stage the rewritten store: existing rows minus the increment's
    // keys, plus the increment
    val tmp = path.stripSuffix("/") + "_upserting"
    spark.read.parquet(path)
      .join(increment.select(key).distinct(), Seq(key), "left_anti")
      .unionByName(increment)
      .write.mode("overwrite").option("compression", "snappy").parquet(tmp)
    try recheck()
    catch {
      case e: java.util.ConcurrentModificationException =>
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        throw e
    }
    // WRITE-AHEAD INTENT (r16 verdict #5): from here to the stamp, the
    // commit is named on disk — a crash at any point is replayed to
    // completion by recoverCommit, and a racing writer's recheck sees
    // the intent instead of slipping through the window. The acquire is
    // create-exclusive (ADVICE r17) — a second winner loses HERE, and
    // cleans up its staging like every other losing exit.
    beforeIntent()
    try writeIntent(spark, path, token, tmp)
    catch {
      case e: java.util.ConcurrentModificationException =>
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        throw e
    }
    beforeSwap()
    try swapInto(spark, tmp, path)
    catch {
      case e: Throwable =>
        // NON-CRASH swap failure (ADVICE r17): when the target is
        // still (or back) in place the commit did NOT land and the
        // caller is being told so — clear our own intent, else a later
        // recoverCommit would "replay" a commit whose failure the
        // caller already acted on. The torn double-rename state
        // (target gone, data at _old/staging) KEEPS the intent: there
        // recovery's restore/replay arms are the only safe exits, the
        // same contract as a crash at that point.
        if (fs.exists(new org.apache.hadoop.fs.Path(path)))
          clearIntent(spark, path)
        throw e
    }
    writeCommitStamp(spark, path, token)
    clearIntent(spark, path)
  }

  /** K-layer extension: targeted deletion from a partitioned store —
    * the right-to-be-forgotten / record-expiry op (GDPR erasure, bad-feed
    * retraction). Parquet files are immutable, so deletion is a rewrite;
    * the whole point at 100 TB is rewriting ONLY the partitions that
    * contain a matching row, leaving every other partition's FILES
    * byte-identical (asserted in sbt by file path+length+mtime):
    *
    *   1. key-only scan finds the affected partition values;
    *   2. only those partitions are re-read (partition-value predicates
    *      → `PartitionFilters`, nothing else is touched) and rewritten
    *      minus the matching keys into a side directory;
    *   3. each affected partition directory is swapped rename-aside
    *      style: old dir → a DOT-PREFIXED sibling (`.dia=02_old`) that
    *      Spark's partition discovery ignores, new in, aside deleted.
    *      Crash safety (single-writer): the store stays READABLE with
    *      correct partition values at every point — before the first
    *      rename the old partition is in place; between the renames the
    *      partition is absent from reads but intact in the hidden aside
    *      (recover by renaming it back); after the second rename the new
    *      data is live. A non-hidden aside would be worse than a missing
    *      partition: discovery would parse `dia=02_old` as a bogus
    *      partition VALUE and resurrect the deleted rows under it.
    *
    * Returns the number of rows deleted. A delete-everything call on an
    * unpartitioned store degenerates to a full rewrite — correct, just
    * not cheap; that shape belongs to [[compact]]-style maintenance
    * windows.
    */
  def deleteByKeys(spark: SparkSession, path: String, key: String,
      keys: Seq[Any], partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "deleteByKeys needs the store's partition columns")
    // partition VALUES must round-trip as the literal directory strings:
    // with type inference on, `mes=07` reads back as int 7 and would
    // rewrite (and rename) to a DIFFERENT directory `mes=7`. Pin
    // inference off for this op's reads; restore on exit.
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val saved = spark.conf.get(inferKey, "true")
    spark.conf.set(inferKey, "false")
    try deleteByKeysInner(spark, path, key, keys, partCols)
    finally spark.conf.set(inferKey, saved)
  }

  private def deleteByKeysInner(spark: SparkSession, path: String,
      key: String, keys: Seq[Any], partCols: Seq[String]): Long = {
    val store = spark.read.parquet(path)
    val hit = store.filter(col(key).isInCollection(keys))
    val affected = hit.select(partCols.map(col): _*).distinct().collect()
    if (affected.isEmpty) return 0L
    // ONE bounded In/InSet predicate over a concat of the partition
    // columns, not an OR-of-ANDs literal tree: a delete spraying
    // thousands of partitions would otherwise compile a huge expression
    // (the optimizer converts a large value list to a constant-time
    // InSet). Every reference is a partition column, so the predicate
    // still prunes to PartitionFilters. \u0001 can't occur in a
    // directory-name partition value; NULL (the hive default partition)
    // gets an explicit token so concat_ws can't collapse it.
    val sep = "\u0001"
    val nullTok = "null"
    val partKey = concat_ws(sep,
      partCols.map(c => coalesce(col(c).cast("string"), lit(nullTok))): _*)
    val affectedKeys = affected.map(r => partCols.indices
      .map(i => Option(r.get(i)).map(_.toString).getOrElse(nullTok))
      .mkString(sep))
    val slice = store.filter(partKey.isInCollection(affectedKeys))
    val removed = slice.filter(col(key).isInCollection(keys)).count()
    val tmp = path.stripSuffix("/") + "_deleting"
    slice.filter(!col(key).isInCollection(keys))
      .write.mode("overwrite").option("compression", "snappy")
      .partitionBy(partCols: _*).parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    affected.foreach { r =>
      val rel = partCols.zipWithIndex
        .map { case (c, i) => s"$c=${r.get(i)}" }.mkString("/")
      val target = new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/$rel")
      val src = new org.apache.hadoop.fs.Path(s"$tmp/$rel")
      // dot-prefixed aside: invisible to partition discovery, so a crash
      // mid-swap can't surface a bogus `dia=02_old` partition value
      val old = new org.apache.hadoop.fs.Path(
        target.getParent, "." + target.getName + "_old")
      fs.delete(old, true)
      if (!fs.rename(target, old))
        throw new java.io.IOException(
          s"delete: rename $target -> $old failed; partition untouched, " +
            s"rewritten data at $src")
      // an all-deleted partition has no tmp dir — the aside removal IS
      // the swap then
      if (fs.exists(src) && !fs.rename(src, target)) {
        val restored = fs.rename(old, target)
        throw new java.io.IOException(
          if (restored)
            s"delete: rename $src -> $target failed; partition restored"
          else
            s"delete: rename $src -> $target failed AND rollback failed; " +
              s"partition $target is EMPTY — original at $old, new at $src")
      }
      fs.delete(old, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    removed
  }
}
