package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The refined-zone analytical stage (SURVEY.md §3.2): the reference's one
  * distributed query — Glue DAG ETL_glue_pregao_B3.json nodes gs_now #1 →
  * SqlCode (json:164) → gs_now #2 → RenameField (json:225-239).
  *
  * Provided in two equivalent forms:
  *   - [[refinedSql]]: the SQL text run through Catalyst, as Glue does;
  *   - [[refinedDsl]]: the same plan in the DataFrame DSL with a
  *     deterministic tie-break (the as-written query's LIMIT 5 is
  *     tie-ambiguous; the DSL form adds key ordering for reproducibility).
  *
  * Physical shape of [[refinedDsl]], collected or written to a path
  * partitioned by (acao, created_at) through `Lake.writeRefined`:
  * partial+final HashAggregate on (cod, acao) → TakeOrderedAndProject
  * top-5 → write. One shuffle; the top-5 never global-sorts. At 100 TB
  * the aggregate is the only exchange, and AQE coalesces its output
  * partitions. Two writes still range-partition and globally sort every
  * group, because a projection lands between their Limit and Sort (see
  * [[refinedDsl]]):
  *   - [[refinedSql]] (used only in tests; its SQL text is Glue's,
  *     verbatim) written partitioned by `acao`: it stamps after the LIMIT;
  *   - `writeRefined`'s catalog arm: the table keeps its partition
  *     columns last, so the write reorders the batch's columns.
  */
object RefinedQuery {

  /** `gs_now` managed transform (ETL_glue_pregao_B3.json:43-121): append a
    * formatted "now" column. Spark's `current_timestamp` is fixed per
    * query, matching gs_now's per-run constant. No UDF needed.
    */
  def gsNow(fmt: String = "yyyy-MM-dd"): Column =
    date_format(current_timestamp(), fmt)

  /** Semantics quirk preserved from the reference (SURVEY §3.2): the 7-day
    * WHERE filters on the `timestamp` column stamped by gs_now in the SAME
    * run — a tautology — so the aggregate covers all loaded raw history.
    */
  private val sevenDayQuery: String =
    """SELECT cod, acao,
      |       SUM(qtde_teorica) AS total_qtde_teorica_dos_ultimos_7_dias
      |FROM myDataSource
      |WHERE TO_DATE(timestamp) BETWEEN DATE_SUB(CURRENT_DATE(), 7)
      |                             AND CURRENT_DATE()
      |GROUP BY cod, acao
      |ORDER BY total_qtde_teorica_dos_ultimos_7_dias DESC
      |LIMIT 5""".stripMargin

  /** SQL-text form: stamp → Spark SQL (the semantics Glue executes,
    * ETL_glue_pregao_B3.json:164) → re-stamp → rename timestamp→created_at
    * (json:225-239).
    */
  /** The view name is unique per call and dropped immediately after
    * analysis (spark.sql resolves views eagerly), so concurrent or nested
    * callers on one SparkSession can't read each other's data (ADVICE r1).
    */
  def refinedSql(spark: SparkSession, raw: DataFrame): DataFrame = {
    val view = "myDataSource_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    raw.withColumn("timestamp", gsNow()).createOrReplaceTempView(view)
    try {
      spark.sql(sevenDayQuery.replace("myDataSource", view))
        .withColumn("timestamp", gsNow())
        .withColumnRenamed("timestamp", "created_at")
    } finally spark.catalog.dropTempView(view)
  }

  /** DSL form of the same plan, deterministic under ties. */
  def refinedDsl(raw: DataFrame): DataFrame =
    raw.withColumn("timestamp", gsNow())
      .filter(to_date(col("timestamp"))
        .between(date_sub(current_date(), 7), current_date()))
      .groupBy("cod", "acao")
      .agg(sum("qtde_teorica").as("total_qtde_teorica_dos_ultimos_7_dias"))
      // Stamp before the sort, not after the limit: `gsNow()` is constant
      // within a query, so the rows are the same either way. But
      // `Lake.writeRefined` partitions by the nullable string `acao`, so
      // the planned write puts an `empty2null(acao)` projection on top of
      // the query, and the optimizer pushes it below the Limit. Stamped
      // after `.limit(5)`, the stamp's projection is pushed there too:
      // two projections between Limit and Sort, which the planner cannot
      // match to TakeOrderedAndProject, so the write range-partitions and
      // fully sorts every (cod, acao) group to keep 5 rows.
      .withColumn("created_at", gsNow())
      .orderBy(desc("total_qtde_teorica_dos_ultimos_7_dias"),
        asc("cod"), asc("acao"))
      .limit(5)
}
