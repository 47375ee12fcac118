package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.lake.Tables._
import graft.ops.Formats

/** Scalar-function and clean/cast operator surface (SURVEY.md §2.3 P3–P9,
  * §2.8) exercised on testdata with DuckDB oracles. All stages are narrow
  * projections — they fuse into the scan's WholeStageCodegen span.
  */
object FunctionQueries {

  /** P3+P4+P5+P6+P9 composed — the B3 clean/typify shape on the documents
    * table: regex-strip the non-numeric prefix, null-safe cast (pandas
    * `errors='coerce'` ≙ try_cast), arithmetic rescale, bulk rename.
    */
  def p3CleanCastPipeline(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("valor_limpo", regexp_replace(col("source"), "[^0-9]", ""))
      .withColumn("src_num", col("valor_limpo").try_cast(LongType))
      .withColumn("chars_k", round(col("n_chars") / lit(1000), 6))
      .drop("valor_limpo")
      .withColumnsRenamed(Map("doc_id" -> "id", "lang" -> "idioma"))
      .select("id", "idioma", "src_num", "chars_k")
      .orderBy("id")

  /** §2.8 date functions: to_date/date_format/date_sub/between — monthly
    * order rollup over a date-typed filter window.
    */
  def fDateFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(to_date(col("o_orderdate"))
        .between(lit("1997-01-01"), lit("1999-12-31")))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("month")

  /** §2.8 string functions: upper/substring/length/concat_ws/lpad. */
  def fStringFuncs(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        substring(col("c_name"), 1, 4).as("name_prefix"),
        length(col("c_name")).as("name_len"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("seg_name"),
        Formats.zeroPad2(col("c_nationkey")).as("nation_padded"))
      .orderBy("c_custkey")

  /** §2.8 JSON extract (S5's `data["bitcoin"]["brl"]` shape) on the events
    * props column: `get_json_object` + coerce cast.
    */
  def fJsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        Formats.jsonLong(col("props"), "$.k").as("k_val"))
      .orderBy("event_id")

  /** K7 (src/bitoin_coin_gecko_api.py:66): BR-locale money formatting —
    * `f"{v:,.2f}"` with `,`↔`.` swapped.
    */
  def fBrMoney(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), Formats.brMoney(col("o_totalprice")).as("preco_br"))
      .orderBy("o_orderkey")

  /** K6 (src/query_db.py:36-43): UPDATE-where-null rewritten as a
    * coalesce projection — null lag values backfilled with a sentinel.
    */
  def k6CoalesceUpdate(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    events(s, d)
      .withColumn("prev_value",
        coalesce(lag("value", 1).over(w), lit(-1.0)))
      .select("user_id", "event_id", "prev_value")
      .orderBy("user_id", "event_id")
  }

  /** §2.8 URL functions — `parse_url` host/path/query-parameter
    * extraction (the web-crawl provenance columns a training-data
    * pipeline keys dedup and source filtering on). The URL is BUILT
    * deterministically from document fields first, so the oracle can
    * rebuild and re-parse it with regexes; the extraction stage is the
    * operator under test. All narrow projections — one codegen span
    * over the scan.
    */
  def fUrlFuncs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("url", concat(
        lit("https://"), col("source"), lit(".example.org/docs/"),
        col("lang"), lit("/"), col("doc_id"),
        lit("?page="), pmod(col("doc_id"), lit(10)), lit("&ref=home")))
      .select(
        col("doc_id"),
        col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("page")).cast("int").as("page"),
        parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"))
      .orderBy("doc_id")

  /** Fuzzy record linkage: names within edit distance ≤ 2 inside the
    * same nation are candidate duplicate identities — the
    * structured-data twin of the d4 n-gram verify.
    *
    * The shipped plan is a FastSS deletion-neighborhood join (Bocek,
    * Hunt, Stiller 2007, "Fast Similarity Search in Large
    * Dictionaries"): each name expands to its ≤2-deletion variants
    * (1 + L + L·(L−1)/2 short strings), candidates are pairs sharing
    * ANY variant within the nation, survivors verified exactly with
    * `graft_lev`. Completeness is the deletion-alignment argument: an
    * optimal ≤2-edit alignment deletes each edited position from its
    * own side — ≤2 deletions per side — and what remains is a COMMON
    * variant, so every true pair collides (property-tested against
    * random insert/delete/substitute mutations in
    * BoundedLevenshteinSpec, and result-identical to
    * [[fEditDistanceBlocked]] on testdata).
    *
    * Scale shape — why not block-and-verify: the retired
    * [[fEditDistanceBlocked]] form compares all pairs inside a
    * (nation) block, and block population grows linearly with the
    * table → in-block pairs grow QUADRATICALLY (the one measured
    * superlinear family of r7: 10× wall exponent 1.26). Segment or
    * prefix blocking (PassJoin-style) does not help THIS corpus: the
    * shared `Customer#…` prefix makes two of three segments constant,
    * reproducing the quadratic block. Deletion variants of id-like
    * names stay diverse, so bucket population — and with it candidate
    * volume — grows ~linearly: the variant explode is a fixed ~170×
    * constant per row (L=18), the price that buys the exponent. Short
    * keys only (names/codes); for document-length strings this family
    * hands off to the d2 MinHash path.
    *
    * `graft_lev` = bounded levenshtein with common-prefix/suffix
    * stripping + banded DP (functions/BoundedLevenshtein.scala): −1
    * past the threshold, the TRUE distance inside it — survivor rows
    * and dist values identical to the plain `levenshtein` the DuckDB
    * oracle runs.
    */
  def fEditDistance(s: SparkSession, d: String): DataFrame =
    fastSsPairs(s, customer(s, d).select(
        col("c_custkey").as("key"), col("c_nationkey").as("blk"),
        col("c_name").as("nm")))
      .orderBy("a_key", "b_key")

  /** FastSS τ=2 edit-distance self-join over (key, blk, nm) rows — the
    * deletion-variant candidate generation + exact `graft_lev` verify
    * described on [[fEditDistance]], factored so the completeness
    * property test can drive it with adversarial random mutations
    * (inserts/deletes SHIFT later positions; the corpus's uniform-length
    * names never exercise that).
    */
  private[graft] def fastSsPairs(s: SparkSession, c: DataFrame): DataFrame = {
    graft.functions.BoundedLevenshteinFn.ensureRegistered(s)
    graft.functions.DeletionVariantsFn.ensureRegistered(s)
    // graft_del_variants = native kernel emitting the distinct ≤2-deletion
    // variants (functions/DeletionVariants.scala); the nested-transform
    // HOF formulation it replaced was CodegenFallback and 4× the query
    // r18: two explode-stage fixes (guide §2.3/§2.5 input-skew):
    //   1. PARALLELIZE the ~170× variant fan-out. The input table is a
    //      single small parquet split, so the explode — the query's
    //      dominant CPU (r18 stage profile: 3.4 s in ONE task) — ran
    //      single-threaded; input-split sizing can't see a 170×
    //      generator. The explicit-width repartition spreads the rows
    //      across the cluster's cores BEFORE the fan-out (explicit
    //      because AQE would re-coalesce a KB-sized exchange it can't
    //      know explodes 170×; defaultParallelism scales with the
    //      cluster, never a constant).
    //   2. NARROW the candidate exchange key: the deletion-variant
    //      string (~17 B + offsets) is only ever compared for
    //      equality, so xxhash64 collapses it to 8 fixed bytes before
    //      the self-join's exchange. A hash collision can only ADD a
    //      candidate pair, and every candidate is verified exactly by
    //      graft_lev below — survivors are identical (the FastSS
    //      completeness argument is untouched: true pairs still share
    //      a variant, hence a variant hash).
    def variantSide(prefix: String): DataFrame =
      graft.ops.Spread.ifNarrow(c, col("key"))
        .select(col("key").as(s"${prefix}_key"), col("blk"),
          explode(expr("graft_del_variants(nm)")).as("vr"))
        .select(col(s"${prefix}_key"), col("blk"),
          xxhash64(col("vr")).as("vrh"))
    // the candidate dedup exchange carries KEYS ONLY (16 bytes/row) —
    // names rejoin by key afterwards, so neither the wide
    // (a_name, b_name) payload (46 MB at sf0.1) nor a per-collision
    // graft_lev re-check reaches an exchange; each distinct pair is
    // verified exactly once
    // shuffle_hash pinned (the g2 wedge-join lesson): the variant
    // relation is the query's one large stream — left to the planner,
    // runs alternate between broadcasting the 695 k-row side (driver
    // build, observed 5–20× slower runs when the build lands badly)
    // and sort-merge (sorts the fan-out). Hash-join it both sides:
    // build is per-partition and bounded, nothing variant-sized sorts.
    val cand = variantSide("a").hint("shuffle_hash")
      .join(variantSide("b"), Seq("blk", "vrh"))
      .filter(col("a_key") < col("b_key"))
      .select("a_key", "b_key")
      .dropDuplicates("a_key", "b_key")
    val names = c.select(col("key"), col("nm"))
    cand
      .join(names.select(col("key").as("a_key"), col("nm").as("a_name")),
        Seq("a_key"))
      .join(names.select(col("key").as("b_key"), col("nm").as("b_name")),
        Seq("b_key"))
      .select(col("a_key"), col("b_key"),
        expr("graft_lev(a_name, b_name, 2)").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** The coarse block-and-verify form FastSS replaced: every in-block
    * pair compared. Kept as the COMPLETENESS BASELINE the equivalence
    * spec checks [[fEditDistance]] against — the same role the brute
    * scan plays for the ANN index — never the shape to run at scale
    * (in-block pairs grow quadratically; measured 10× exponent 1.26).
    */
  private[graft] def fEditDistanceBlocked(s: SparkSession, d: String): DataFrame = {
    graft.functions.BoundedLevenshteinFn.ensureRegistered(s)
    val c = customer(s, d).select(
      col("c_custkey"), col("c_nationkey"), col("c_name"))
    val a = c.select(col("c_custkey").as("a_key"),
      col("c_nationkey").as("nk"), col("c_name").as("a_name"))
    val b = c.select(col("c_custkey").as("b_key"),
      col("c_nationkey").as("nk"), col("c_name").as("b_name"))
    a.join(b, Seq("nk"))
      .filter(col("a_key") < col("b_key"))
      .select(col("a_key"), col("b_key"),
        expr("graft_lev(a_name, b_name, 2)").as("dist"))
      .filter(col("dist") >= 0)
      .orderBy("a_key", "b_key")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p3_clean_cast_pipeline" -> (p3CleanCastPipeline _),
    "f_date_funcs"           -> (fDateFuncs _),
    "f_string_funcs"         -> (fStringFuncs _),
    "f_json_extract"         -> (fJsonExtract _),
    "f_br_money"             -> (fBrMoney _),
    "k6_coalesce_update"     -> (k6CoalesceUpdate _),
    "f_url_funcs"            -> (fUrlFuncs _),
    "f_edit_distance"        -> (fEditDistance _),
  )

  def oracles: Map[String, String] = Map(
    "f_edit_distance" ->
      """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY a_key, b_key""".stripMargin,
    "p3_clean_cast_pipeline" ->
      """SELECT doc_id AS id, lang AS idioma,
        |  TRY_CAST(regexp_replace(source, '[^0-9]', '', 'g') AS BIGINT) AS src_num,
        |  round(n_chars / 1000.0, 6) AS chars_k
        |FROM documents ORDER BY id""".stripMargin,
    "f_date_funcs" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1999-12-31'
        |GROUP BY 1 ORDER BY month""".stripMargin,
    "f_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |  substring(c_name, 1, 4) AS name_prefix,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  concat_ws('|', c_mktsegment, c_name) AS seg_name,
        |  lpad(CAST(c_nationkey AS VARCHAR), 2, '0') AS nation_padded
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "f_json_extract" ->
      """SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "f_br_money" ->
      """SELECT o_orderkey,
        |  translate(format('{:,}', CAST(floor(o_totalprice) AS BIGINT)), ',', '.')
        |  || ',' || substring(CAST(round(o_totalprice - floor(o_totalprice), 2) + 1.001 AS VARCHAR), 3, 2)
        |  AS preco_br
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "k6_coalesce_update" ->
      """SELECT user_id, event_id,
        |  coalesce(lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), -1.0)
        |    AS prev_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "f_url_funcs" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.org/docs/' || lang || '/'
        |      || doc_id || '?page=' || (doc_id % 10) || '&ref=home' AS url
        |  FROM documents)
        |SELECT doc_id, url,
        |  regexp_extract(url, 'https://([^/]+)', 1) AS host,
        |  regexp_extract(url, 'https://[^/]+([^?]*)', 1) AS path,
        |  CAST(regexp_extract(url, '[?&]page=([^&]*)', 1) AS INT) AS page,
        |  regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref
        |FROM u ORDER BY doc_id""".stripMargin,
  )
}
