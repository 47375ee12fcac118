package perfbench

import java.time.{LocalDate, ZoneOffset}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.SparkEntry
import graft.lake.Lake
import graft.model.Schemas
import graft.ops.{B3Transform, RefinedQuery}
import graft.streaming.Streams

/** The workloads. Each returns the map `run.py` reads: `ready_ms`
  * (end of set-up), `attempted`/`failed`, end-to-end numbers under `e2e`,
  * per-layer numbers under `layers` and the outputs to check.
  */
object Workloads {
  private val MB = 1024.0 * 1024.0


  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Engine layer numbers over `ops`, per round for times and bytes and
    * per op for counts.
    */
  def engine(ops: Seq[Op], rounds: Int): Map[String, Double] = {
    val c = ops.map(_.engine).foldLeft(Counters())(_ + _)
    val n = math.max(1, ops.size).toDouble; val r = math.max(1, rounds).toDouble
    Map(
      "construct_s" -> ops.map(_.constructS).sum / r,
      "execute_s" -> ops.map(_.executeS).sum / r,
      "outside_job_s" -> ops.map(_.outsideJobS).sum / r,
      "jobs_per_op" -> c.jobs / n,
      "stages_per_op" -> c.stages / n,
      "catalyst_ms_per_op" -> c.catalystMs / n,
      "task_s" -> c.taskMs / 1e3 / r,
      "gc_s" -> c.gcMs / 1e3 / r,
      "shuffle_read_mb" -> c.shuffleRead / MB / r,
      "shuffle_write_mb" -> c.shuffleWrite / MB / r,
      "spill_mb" -> c.spill / MB / r)
  }

  private def digestMap(name: String, phase: String,
      result: (Seq[String], Array[org.apache.spark.sql.Row])): Map[String, Any] = {
    val (cols, rows, sha) = Canon.digest(result._1, result._2)
    Map("name" -> name, "phase" -> phase, "columns" -> cols, "rows" -> rows, "sha" -> sha)
  }

  private def errors(ops: Seq[Op]): Seq[String] =
    ops.filterNot(_.ok).map(o => s"${o.phase}/${o.name}: ${o.error.get}")

  // ---------------------------------------------------------- analyst

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB

  val WarmPasses = 2
  /** Rough length of one analyst round and one lake cycle on a 4-core
    * host, used to turn `--seconds` into a fixed schedule: a run does the
    * same work whatever the machine's speed, so its medians compare.
    */
  val NominalRoundS = 45.0
  val NominalCycleS = 5.0
  def scheduled(seconds: Double, nominal: Double): Int =
    math.max(1, math.round(seconds / nominal).toInt)

  /** One analyst at a dashboard who also curates LLM data, as a single
    * closed-loop client. A round is: a fresh session; a cold pass (the
    * dashboard queries in a seeded order, then each curation family);
    * `WarmPasses` warm passes of the same calls; the loss of every cached
    * block; and one more invocation of each family. Every round attempts
    * the same calls, so the failed share is the same whatever the run
    * length.
    */
  def analystSession(spark: SparkSession, rec: Recorder, dir: String,
      dashboard: Seq[String], families: Seq[String], seed: Long,
      seconds: Double): Map[String, Any] = {
    val q = SparkEntry.queries
    val tables = s"$dir/tables"
    val rng = new scala.util.Random(seed)
    val digests = ArrayBuffer[Map[String, Any]]()
    val colds = ArrayBuffer[Seq[Op]]()
    val warms = ArrayBuffer[Seq[Op]]()
    val recovers = ArrayBuffer[Seq[Op]]()
    val cachedPer = ArrayBuffer[Map[String, Double]]()
    val cached = ArrayBuffer[Double]()
    val ready = System.currentTimeMillis()
    (1 to scheduled(seconds, NominalRoundS)).foreach { _ =>
      val s = spark.newSession()
      rec.attach(s)
      val per = scala.collection.mutable.Map[String, Double]()
      def call(n: String, phase: String): Op = {
        val (op, res) = rec.op(s, n, phase)(q(n)(s, tables))
        res.foreach(r => digests += digestMap(n, phase, r))
        op
      }
      // the cold pass also records what each family leaves cached
      def pass(phase: String): Seq[Op] = rec.span(phase) {
        rng.shuffle(dashboard).map(call(_, phase)) ++ families.map { f =>
          val before = storageMb(spark)
          val op = call(f, phase)
          if (phase == "cold") per(f) = storageMb(spark) - before
          op
        }
      }
      rec.span(s"round${colds.size}") {
        colds += pass("cold")
        cachedPer += per.toMap
        (1 to WarmPasses).foreach(_ => warms += pass("warm"))
        cached += storageMb(spark)
        rec.span("block_loss") {
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        }
        recovers += rec.span("recover")(families.map(call(_, "recover")))
      }
    }
    val coldOps = colds.flatten.toSeq
    val warmOps = warms.flatten.toSeq
    val okWarm = warmOps.filter(_.ok)
    val all = coldOps ++ warmOps ++ recovers.flatten
    def ok(ops: Seq[Op], n: String) = ops.filter(o => o.name == n && o.ok)
    val perOp = (dashboard ++ families).flatMap { n =>
      Seq(s"cold_s.$n" -> median(ok(coldOps, n).map(_.totalS)),
        s"warm_s.$n" -> median(ok(warmOps, n).map(_.totalS)),
        s"jobs_cold.$n" -> median(ok(coldOps, n).map(_.engine.jobs.toDouble)),
        s"jobs_warm.$n" -> median(ok(warmOps, n).map(_.engine.jobs.toDouble)))
    }
    val perFamily = families.flatMap { f =>
      val r = recovers.flatten.filter(_.name == f).toSeq
      Seq(s"cached_mb.$f" -> median(cachedPer.map(_(f)).toSeq),
        s"recover_s.$f" -> (if (r.forall(_.ok)) median(r.map(_.totalS)) else 0.0))
    }
    Map(
      "ready_ms" -> ready,
      "attempted" -> all.size,
      "failed" -> all.count(!_.ok),
      "errors" -> errors(all),
      "e2e" -> Map(
        "cold_cpu_s" -> median(colds.map(_.map(_.cpuS).sum).toSeq),
        "warm_cpu_s" -> median(warms.map(_.map(_.cpuS).sum).toSeq),
        "op_p50_cpu_s" -> median(okWarm.map(_.cpuS)),
        "ops_per_cpu_s" -> okWarm.size / okWarm.map(_.cpuS).sum),
      "layers" -> (engine(warmOps, warms.size) ++ perOp ++ perFamily ++ Map(
        "wall_cold_s" -> median(colds.map(_.map(_.totalS).sum).toSeq),
        "wall_warm_s" -> median(warms.map(_.map(_.totalS).sum).toSeq),
        "wall_op_p50_s" -> median(okWarm.map(_.totalS)),
        "wall_ops_per_s" -> okWarm.size / okWarm.map(_.totalS).sum,
        "cached_mb" -> median(cached.toSeq),
        "cold_construct_s" -> median(colds.map(_.map(_.constructS).sum).toSeq),
        "cold_execute_s" -> median(colds.map(_.map(_.executeS).sum).toSeq))),
      "digests" -> digests.toSeq,
      "ops" -> all.map(_.toMap))
  }

  // ---------------------------------------------------------------- lake

  val CycleDays = 2
  private val Day0 = LocalDate.of(2024, 1, 1)

  private def zoneStats(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val st = java.nio.file.Files.walk(root)
    try {
      val parts = st.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      (parts.size.toLong, parts.map(java.nio.file.Files.size).sum)
    } finally st.close()
  }

  /** (rows, order-free checksum) of a table. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => coalesce(col(s"`$c`").cast(StringType), lit("\\N")))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** A B3 daily batch per day: land the page in the raw zone, let the
    * file-arrival stream pick it up, rebuild the refined top-5 over all
    * history, upsert the day into the keyed positions table, and compact
    * that table at the end of every cycle of `CycleDays` days. One cold
    * day, then `seconds / NominalCycleS` cycles.
    */
  def lakeEtl(spark: SparkSession, rec: Recorder, dir: String,
      seconds: Double): Map[String, Any] = {
    val plan = scala.io.Source.fromFile(s"$dir/b3/plan.txt").getLines()
      .map(_.split("=")).map(a => a(0) -> a(1).toInt).toMap
    val (history, maxDays) = (plan("history"), plan("days"))
    val lake = s"$dir/lake"
    val (raw, refined, positions) = (s"$lake/raw", s"$lake/refined", s"$lake/positions")
    val (sink, ckpt) = (s"$lake/stream_sink", s"$lake/stream_ckpt")
    def scraped(d: Int) = spark.read.schema(Schemas.b3Scraped).parquet(s"$dir/b3/day=$d.parquet")
    val rawSchema = StructType(Schemas.b3RawSuperset.fields.filter(_.name != "valor_limpo") ++
      Seq("ano", "mes", "dia").map(StructField(_, StringType)))
    def stream(): Unit = {
      val sq = Streams.rawZoneStream(spark, rawSchema, raw).writeStream
        .format("parquet").option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      sq.exception.foreach(e => throw e)
    }

    // set-up: the history in one write, its latest-per-key positions, and
    // one stream batch so the checkpoint starts at the history's end
    rec.span("history") {
      val days = (0 until history).map(d => scraped(d).withColumn("d", lit(d)))
      val dateOf = date_add(lit(Day0), col("d"))
      B3Transform.transform(days.reduce(_.unionByName(_)))
        .withColumn("ano", date_format(dateOf, "yyyy"))
        .withColumn("mes", date_format(dateOf, "MM"))
        .withColumn("dia", date_format(dateOf, "dd"))
        .drop("d").write.option("compression", "snappy")
        .partitionBy("ano", "mes", "dia").parquet(raw)
      val latest = spark.read.parquet(raw)
        .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("cod").orderBy(desc("ano"), desc("mes"), desc("dia"))))
        .filter(col("rk") === 1)
        .select("cod", "acao", "tipo", "qtde_teorica", "part_teorica_porc", "data_hora")
      Lake.upsertByKeyGuarded(spark, latest, positions, "cod")
      stream()
    }

    val compactions = ArrayBuffer[Map[String, Any]]()
    def step(name: String)(f: => Unit): Op = {
      val (secs, eng, outside, err, cpu) = rec.window(spark)(rec.span(name)(f))
      err.foreach(e => throw new IllegalStateException(s"$name: $e"))
      Op(name, "day", 0.0, secs, None, eng, outside, cpu)
    }
    def runDay(d: Int, compactAfter: Boolean): Seq[Op] = rec.span(s"day$d") {
      val date = Day0.plusDays(d.toLong)
      val steps = Seq(
        step("transform")(Lake.writeRawDaily(B3Transform.transform(scraped(d)), raw, date)),
        step("stream_batch")(stream()),
        step("refined")(Lake.writeRefined(RefinedQuery.refinedDsl(Lake.readRaw(spark, raw)), refined)),
        step("upsert")(Lake.upsertByKeyGuarded(spark, B3Transform.transform(scraped(d)),
          positions, "cod")))
      if (!compactAfter) steps
      else {
        val before = fingerprint(spark.read.parquet(positions))
        val c = step("compact")(Lake.compact(spark, positions))
        val after = fingerprint(spark.read.parquet(positions))
        compactions += Map("rows_before" -> before._1, "rows_after" -> after._1,
          "sum_before" -> before._2, "sum_after" -> after._2)
        steps :+ c
      }
    }

    val ready = System.currentTimeMillis()
    val stampDates = scala.collection.mutable.Set(LocalDate.now(ZoneOffset.UTC).toString)
    val cold = runDay(history, compactAfter = false)
    var next = history + 1
    val nCycles = scheduled(seconds, NominalCycleS)
    require(history + 1 + nCycles * CycleDays <= maxDays,
      s"$nCycles cycles need more days than the $maxDays generated")
    val cycles = (1 to nCycles).map { _ =>
      val days = (0 until CycleDays).map(i => runDay(next + i, compactAfter = i == CycleDays - 1))
      next += CycleDays
      days
    }
    stampDates += LocalDate.now(ZoneOffset.UTC).toString
    val warmDays = cycles.flatten.toSeq
    val warmOps = warmDays.flatten
    def stepMedian(n: String) = median(warmOps.filter(_.name == n).map(_.executeS))
    // a day's latency leaves out the compaction that ends each cycle
    def dayOps(day: Seq[Op]) = day.filter(_.name != "compact")
    val upserts = warmOps.filter(_.name == "upsert")
    val rowsPerDay = plan("rows_per_day").toDouble

    // outputs for the checks (untimed)
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val pos = spark.read.parquet(positions).agg(count(lit(1)), sum("qtde_teorica")).head()
    val refinedRows = spark.read.parquet(refined)
      .select("cod", "acao", "total_qtde_teorica_dos_ultimos_7_dias", "created_at")
      .collect().map(r => Seq(r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2), r.getString(3))).toSeq
    val rawDf = spark.read.parquet(raw)
    val sinkDf = spark.read.parquet(sink).select(rawDf.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val intents = java.nio.file.Files.list(java.nio.file.Paths.get(lake)).toArray.toSeq
      .map(_.toString).filter(_.endsWith("_intent"))
    val zones = Seq("raw" -> raw, "refined" -> refined, "positions" -> positions, "stream" -> sink)
      .map { case (z, p) => z -> zoneStats(p) }.toMap
    val generatedRows = next * rowsPerDay
    val lakeBytes = Seq("raw", "refined", "positions").map(zones(_)._2).sum
    Map(
      "ready_ms" -> ready,
      "attempted" -> (cold.size + warmOps.size),
      "failed" -> 0,
      "errors" -> Seq(),
      "ops" -> (cold ++ warmOps).map(_.toMap),
      "e2e" -> Map(
        "cold_cpu_s" -> cold.map(_.cpuS).sum,
        "warm_cpu_s" -> median(cycles.map(_.flatten.map(_.cpuS).sum).toSeq),
        "op_p50_cpu_s" -> median(warmDays.map(dayOps(_).map(_.cpuS).sum)),
        "ops_per_cpu_s" -> warmDays.size / warmOps.map(_.cpuS).sum),
      "layers" -> (engine(warmOps, cycles.size) ++ Map(
        "wall_cold_s" -> cold.map(_.executeS).sum,
        "wall_warm_s" -> median(cycles.map(_.flatten.map(_.executeS).sum).toSeq),
        "wall_op_p50_s" -> median(warmDays.map(dayOps(_).map(_.executeS).sum)),
        "wall_ops_per_s" -> warmDays.size / warmOps.map(_.executeS).sum,
        "transform_s" -> stepMedian("transform"),
        "stream_batch_s" -> stepMedian("stream_batch"),
        "refined_s" -> stepMedian("refined"),
        "upsert_s" -> stepMedian("upsert"),
        "compact_s" -> stepMedian("compact"),
        "upsert_bytes_written_per_row" -> upserts.map(_.engine.written.toDouble).sum /
          math.max(1, upserts.size) / rowsPerDay,
        "bytes_per_row" -> lakeBytes / generatedRows) ++
        zones.flatMap { case (z, (f, b)) => Seq(s"files.$z" -> f.toDouble, s"bytes.$z" -> b.toDouble) }),
      "lake" -> Map(
        "days" -> next,
        "stamp_dates" -> stampDates.toSeq,
        "positions_rows" -> pos.getLong(0),
        "positions_qtde_sum" -> String.valueOf(pos.get(1)),
        "refined_rows" -> refinedRows,
        "raw_rows" -> rawDf.count(),
        "raw_fingerprint" -> fingerprint(rawDf)._2,
        "sink_rows" -> sinkDf.count(),
        "sink_distinct" -> sinkDf.select("cod", "ano", "mes", "dia").distinct().count(),
        "sink_fingerprint" -> fingerprint(sinkDf)._2,
        "compactions" -> compactions.toSeq,
        "intents" -> intents,
        "positions_intent" -> Lake.readIntent(spark, positions).map(_._1)))
  }
}
