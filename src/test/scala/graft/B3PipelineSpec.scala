package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Schemas
import graft.ops.{B3Transform, RefinedQuery}
import graft.lake.Lake
import java.time.LocalDate
import scala.jdk.CollectionConverters._

/** B3 pipeline semantics vs the reference's committed artifacts: the
  * SQLite row ('ALOS3','ALLOS','ON ED NM',476976044,0.494,...) is the
  * golden post-transform value (FIXTURES.md §1.2).
  */
class B3PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private def scraped = spark.createDataFrame(
    Seq(
      Row("ALOS3", "ALLOS", "ON ED NM", "476.976.044", 494L),
      Row("PETR4", "PETROBRAS", "PN N2", "3.700.000.000", 4129L),
      Row("BADLY", "BROKEN", "ON", "not-a-number", 10L),
      Row("Redutor", "", "", "1.000", 1L),
      Row("Quantidade Teórica Total", "", "", "2.000", 2L)
    ).asJava, Schemas.b3Scraped)

  test("P1-P9 transform matches the reference's committed values") {
    val out = B3Transform.transform(scraped, stampTimestamp = false)
    assert(out.columns.toSeq ==
      Seq("cod", "acao", "tipo", "qtde_teorica", "part_teorica_porc"))
    val rows = out.orderBy("cod").collect()
    assert(rows.length == 3) // summary rows filtered (P1)
    val alos = rows.find(_.getString(0) == "ALOS3").get
    assert(alos.getString(1) == "ALLOS")
    assert(alos.getLong(3) == 476976044L)       // P3+P4: dots stripped, cast
    assert(alos.getDouble(4) == 0.494)          // P5: ÷1000
    val bad = rows.find(_.getString(0) == "BADLY").get
    assert(bad.isNullAt(3))                     // P4: coerce → null
  }

  test("P8 stamp has the reference's yyyy-MM-dd HH:mm:ss string encoding") {
    val out = B3Transform.transform(scraped)
    val v = out.select("data_hora").head().getString(0)
    assert(v.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""))
  }

  test("refined pipeline (SQL text form): top-5 by total, schema golden") {
    val raw = B3Transform.transform(scraped, stampTimestamp = false)
    val refined = RefinedQuery.refinedSql(spark, raw)
    assert(refined.columns.toSeq ==
      Schemas.b3Refined.fields.map(_.name).toSeq)
    val top = refined.collect()
    assert(top.length == 3) // 3 groups (BADLY sums to null, ranked last)
    // PETR4 (3.7e9) must rank above ALOS3 (4.77e8)
    assert(top.head.getString(0) == "PETR4")
    assert(top.head.getLong(2) == 3700000000L)
  }

  test("refined DSL and SQL forms agree on ranked totals") {
    val raw = B3Transform.transform(scraped, stampTimestamp = false)
    val a = RefinedQuery.refinedSql(spark, raw)
      .select("cod", "total_qtde_teorica_dos_ultimos_7_dias").collect().toSeq
    val b = RefinedQuery.refinedDsl(raw)
      .select("cod", "total_qtde_teorica_dos_ultimos_7_dias").collect().toSeq
    assert(a.toSet == b.toSet)
  }

  test("lake roundtrip: daily partitioned write, drift-tolerant read") {
    val dir = java.nio.file.Files.createTempDirectory("lake").toString
    val day1 = B3Transform.transform(scraped, stampTimestamp = false)
    val day2 = B3Transform.transform(scraped) // +data_hora → drifted schema
    Lake.writeRawDaily(day1, dir, LocalDate.of(2025, 7, 31))
    Lake.writeRawDaily(day2, dir, LocalDate.of(2025, 8, 1))
    // zero-padded partition paths like the reference's raw zone
    assert(new java.io.File(s"$dir/ano=2025/mes=07/dia=31").isDirectory)
    assert(new java.io.File(s"$dir/ano=2025/mes=08/dia=01").isDirectory)
    val merged = Lake.readRaw(spark, dir)
    assert(merged.count() == 6)
    assert(merged.columns.contains("data_hora")) // drift surfaced
    assert(merged.filter(col("data_hora").isNull).count() == 3) // day1 rows
    // typed view of the raw zone (Dataset[PregaoB3Row], SURVEY §1.1)
    import spark.implicits._
    val typed = merged.drop("ano", "mes", "dia").as[graft.model.PregaoB3Row]
    assert(typed.filter((r: graft.model.PregaoB3Row) =>
      r.qtde_teorica.exists(_ > 1000000000L)).count() == 2) // PETR4 ×2 days
    // superset-schema read: declared drift column present even if absent in files
    val sup = Lake.readRaw(spark, dir, Some(Schemas.b3RawSuperset))
    assert(sup.columns.contains("valor_limpo"))
    assert(sup.filter(col("valor_limpo").isNotNull).count() == 0)
  }

  test("JSONL source: explicit schema, drift-null fields, corrupt lines quarantined") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"doc_id": 1, "text": "hello world", "lang": "en"}
        |{"doc_id": 2, "text": "bonjour"}
        |not json at all
        |{"doc_id": "NaN-ish", "text": 42}
        |{"doc_id": 3, "text": "hallo", "lang": "de", "extra": true}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    val (clean, rejects) = Lake.quarantine(
      Lake.readJsonl(spark, s"$dir/docs.jsonl", schema))
    // doc 2: missing lang -> null (drift tolerance); doc 3: extra field ignored
    assert(clean.count() == 3)
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(clean.filter(col("lang").isNull).count() == 1)
    // the garbage line AND the type-mismatched line land in rejects, raw
    val bad = rejects.collect().map(_.getString(0))
    assert(bad.length == 2, s"rejects: ${bad.mkString(" | ")}")
    assert(bad.exists(_.contains("not json")) && bad.exists(_.contains("NaN-ish")))
  }

  test("upsertByKey: updates, inserts, preserves untouched keys; swap leaves no debris; re-run idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ups").toString + "/t"
    // first upsert into a non-existent path just writes the increment
    Lake.upsertByKeyGuarded(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir, "k")
    // update key 2, insert key 4, leave 1 and 3 alone
    val inc = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    Lake.upsertByKeyGuarded(spark, inc, dir, "k")
    def state() = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    // re-applying the same increment is a no-op (at-least-once upstream)
    Lake.upsertByKeyGuarded(spark, inc, dir, "k")
    assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    // the rename-aside swap cleaned up both working directories
    assert(!new java.io.File(dir.stripSuffix("/") + "_upserting").exists)
    assert(!new java.io.File(dir.stripSuffix("/") + "_old").exists)
    // and the commit's write-ahead intent is cleared
    assert(!new java.io.File(dir.stripSuffix("/") + "_intent").exists)
    // the key-unique contract is ENFORCED, and rejection leaves the
    // table untouched (r5 verdict #5: dup keys used to land twice)
    val err = intercept[IllegalArgumentException] {
      Lake.upsertByKeyGuarded(spark, Seq((5L, "x"), (5L, "y")).toDF("k", "v"), dir, "k")
    }
    assert(err.getMessage.contains("duplicate key"))
    assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
  }

  test("diffSnapshots classifies added/removed/changed and skips identical rows") {
    import spark.implicits._
    val old = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"),
      (5L, "ab", "")).toDF("k", "v", "w")
    val neu = Seq((1L, "a", "x"), (2L, "B", "y"), (4L, "d", "q"),
      (5L, "a", "b")).toDF("k", "v", "w")
    val diff = Lake.diffSnapshots(old, neu, "k", Seq("v", "w"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // key 1 identical -> absent; 5 would collide under naive concat
    // ("ab"+"" vs "a"+"b") but must be CHANGED
    assert(diff == Map(2L -> "changed", 3L -> "removed", 4L -> "added",
      5L -> "changed"))
  }

  test("incremental partial aggregates: merged read == full recompute; day re-run idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("partials").toString
    def day(d: Int, rows: Seq[(String, Double)]) = {
      Lake.appendDailyPartials(rows.toDF("grp", "v"), dir,
        LocalDate.of(2025, 8, d), Seq("grp"), "v")
      rows
    }
    val all = day(1, Seq(("a", 1.0), ("a", 2.0), ("b", 5.0))) ++
      day(2, Seq(("a", 3.0), ("c", 7.0))) ++
      day(3, Seq(("b", 4.0), ("c", 1.0), ("c", 2.0)))
    def merged() = Lake.readMergedAggregate(spark, dir, Seq("grp"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    val want = all.groupBy(_._1).view.mapValues { vs =>
      val s = vs.map(_._2).sum
      (s, vs.size.toLong, s / vs.size)
    }.toMap
    assert(merged() == want, "merged partials != full recompute")
    // re-running a day must REPLACE its partials, not double-count them
    day(2, Seq(("a", 3.0), ("c", 7.0)))
    assert(merged() == want, "day re-run double-counted")
    // a corrected re-run changes only that day's contribution
    Lake.appendDailyPartials(Seq(("a", 100.0)).toDF("grp", "v"), dir,
      LocalDate.of(2025, 8, 2), Seq("grp"), "v")
    val after = merged()
    assert(after("a") == (103.0, 3L, 103.0 / 3) && after("c") == (3.0, 2L, 1.5))
    // and a single-day read prunes to one partition's files
    val oneDay = spark.read.parquet(dir).filter(col("dia") === "03")
    assert(oneDay.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(dia"))
    // the period parameter restricts the merge BEFORE grouping (a
    // post-hoc filter could not — the day columns are consumed)
    val d3only = Lake.readMergedAggregate(spark, dir, Seq("grp"),
        period = col("dia") === "03")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d3only == Map("b" -> 4.0, "c" -> 3.0))
    // a re-run that aggregates to ZERO rows must retract the day's
    // stale partials, not leave them counting (dynamic overwrite alone
    // writes no partition for an empty frame)
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("grp", StringType), StructField("v", DoubleType))))
    Lake.appendDailyPartials(empty, dir, LocalDate.of(2025, 8, 3), Seq("grp"), "v")
    // day 3 held b:4.0 and all of c (day 2's correction had removed c);
    // retracting it leaves only day-1 b and the corrected day-2 a
    val retracted = merged()
    assert(retracted == Map(
      "a" -> ((103.0, 3L, 103.0 / 3)), "b" -> ((5.0, 1L, 5.0))),
      s"day-3 retraction left stale partials: $retracted")
  }

  test("sketch partials: unioned HLL tracks exact distinct across days within bound") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sketch").toString
    // users overlap across days — per-day exact counts would NOT merge
    val days = Seq(
      1 -> (1 to 600),
      2 -> (301 to 900),
      3 -> (601 to 1500))
    days.foreach { case (d, users) =>
      Lake.appendDailySketch(
        users.map(u => ("site", u.toLong)).toDF("grp", "user"),
        dir, LocalDate.of(2025, 8, d), Seq("grp"), "user")
    }
    val est = Lake.readMergedDistinct(spark, dir, Seq("grp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = days.flatMap(_._2).distinct.size // 1500, not 600+600+900
    assert(math.abs(est("site") - exact).toDouble / exact < 0.05,
      s"HLL merge estimate ${est("site")} vs exact $exact")
    // one row per (group, day) is all that persists
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("clustered write: row-group stats skip non-matching groups on the sort key") {
    import spark.implicits._
    val n = 400000
    val rows = (1 to n).map(i => ((i.toLong * 7919L) % 1000L, s"payload_$i")).toDF("k", "p")
    val base = java.nio.file.Files.createTempDirectory("cluster").toString
    // identical data, tiny row groups; one layout sorted by k, one not
    rows.write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(s"$base/shuffled")
    Lake.writeClustered(rows, s"$base/clustered", Seq("k"),
      rowGroupBytes = 64 * 1024)
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path).filter(col("k") === 42L)
      assert(df.collect().length == n / 1000) // same answer both layouts
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = (p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(f.metrics("numOutputRows").value)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case other => other.children.flatMap(scans)
      })
      scans(df.queryExecution.executedPlan).sum
    }
    val (shuffled, clustered) = (scanRows(s"$base/shuffled"), scanRows(s"$base/clustered"))
    // random layout: every row group's [min,max] spans the key domain, so
    // stats skip nothing; clustered layout decodes only matching groups
    assert(clustered < shuffled / 10,
      s"row-group skipping ineffective: clustered scan=$clustered vs shuffled=$shuffled")
  }

  test("idempotent daily rewrite: dynamic partition overwrite") {
    val dir = java.nio.file.Files.createTempDirectory("lake2").toString
    val day = B3Transform.transform(scraped, stampTimestamp = false)
    Lake.writeRawDaily(day, dir, LocalDate.of(2025, 8, 1))
    Lake.writeRawDaily(day, dir, LocalDate.of(2025, 8, 2))
    Lake.writeRawDaily(day, dir, LocalDate.of(2025, 8, 2)) // re-run same day
    val all = Lake.readRaw(spark, dir)
    assert(all.count() == 6) // day re-run replaced, not duplicated or truncated
  }

  test("K6 backfill: only null data_hora rows updated") {
    val dir = java.nio.file.Files.createTempDirectory("lake3").toString
    val day1 = B3Transform.transform(scraped, stampTimestamp = false)
    val day2 = B3Transform.transform(scraped)
    Lake.writeRawDaily(day1, dir, LocalDate.of(2025, 7, 31))
    Lake.writeRawDaily(day2, dir, LocalDate.of(2025, 8, 1))
    val written = Lake.readRaw(spark, dir)
    // the stamp actually persisted for day2 (current_timestamp is
    // per-query, so day2's plan can't be re-evaluated to get it)
    val orig = written.filter(col("data_hora").isNotNull)
      .select("data_hora").head().getString(0)
    val filled = Lake.backfillDataHora(written)
    assert(filled.filter(col("data_hora").isNull).count() == 0)
    assert(filled.filter(col("data_hora") === orig).count() == 3)
  }
}
