package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{DotProduct, NormalizeExpression, TextSignatures}

/** Session-extension injector — the supported way to ship the engine's
  * native expressions and optimizer rules to every session of a
  * cluster:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * Injects:
  *   - `graft_dot` (native dot-product expression), resolvable in SQL
  *     text and `expr(...)` plans without per-query registration (the
  *     in-code fallback
  *     [[graft.functions.VectorExpressions.ensureRegistered]] covers
  *     sessions created without the config);
  *   - [[graft.plans.NullFilterToAntiJoin]], the left-join-IS-NULL →
  *     anti-join rewrite Catalyst lacks;
  *   - a generated-class cache sized for the query surface
  *     ([[GraftExtensions.sizeCodegenCache]]).
  *
  * This is the brief's extension point (c): SparkSessionExtensions for
  * engine-level additions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sizeCodegenCache()
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(
        classOf[graft.functions.SimHashSig].getName, "graft_simhash"),
      TextSignatures.makeSimhash))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(
        classOf[graft.functions.MinHashSig].getName, "graft_minhash"),
      TextSignatures.makeMinhash))
    ext.injectFunction((
      FunctionIdentifier("graft_ngram_md5"),
      new ExpressionInfo(
        classOf[graft.functions.NgramMd5].getName, "graft_ngram_md5"),
      TextSignatures.makeNgramMd5))
    ext.injectFunction((
      FunctionIdentifier("graft_lev"),
      new ExpressionInfo(
        classOf[graft.functions.BoundedLevenshtein].getName, "graft_lev"),
      graft.functions.BoundedLevenshteinFn.make))
    ext.injectFunction((
      FunctionIdentifier("graft_compress_bp"),
      new ExpressionInfo(
        classOf[graft.functions.CompressRatioBp].getName,
        "graft_compress_bp"),
      graft.functions.CompressRatio.make))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "graft_nfc"),
      NormalizeExpression.make))
    ext.injectFunction((
      FunctionIdentifier("graft_del_variants"),
      new ExpressionInfo(
        classOf[graft.functions.DeletionVariants].getName,
        "graft_del_variants"),
      graft.functions.DeletionVariantsFn.make))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[graft.functions.BloomMightContain].getName,
        "graft_bloom_contains"),
      graft.functions.BloomFilterFn.make))
    ext.injectOptimizerRule(_ => graft.plans.NullFilterToAntiJoin)
  }
}

object GraftExtensions {

  /** Entries of Spark's generated-class cache under graft. One pass over
    * the 179 queries (sf0.01, cold memos) compiled 2 485 distinct
    * classes, and a second pass 146 more (queries whose generated code
    * differs between calls); 4 000 holds both with room to spare. Spark's default of 100
    * evicts every class of a repeated query mix before its reuse, so
    * each warm call recompiled its classes and HotSpot re-JITted them.
    */
  val CodegenCacheEntries = 4000

  private lazy val codegenCacheSized: Unit = {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val asked = Option(SparkEnv.get).flatMap(_.conf.getOption(key))
      .map(_.toInt).getOrElse(0)
    val conf = new SQLConf
    conf.setConfString(key, math.max(CodegenCacheEntries, asked).toString)
    SQLConf.withExistingConf(conf)(CodeGenerator.javaType(IntegerType))
  }

  /** Size `CodeGenerator`'s class cache once per JVM: graft's bound, or
    * the SparkContext's `spark.sql.codegen.cache.maxEntries` when that
    * is larger. Spark reads the bound once, when `CodeGenerator`
    * initialises; this forces that initialisation under a conf carrying
    * the bound, so it must run before the first compile. If
    * `CodeGenerator` has already initialised (a session without this
    * extension compiled first), it is a no-op and the cache keeps its
    * size. It sizes this JVM's cache only: executors in other JVMs keep
    * their own (in local mode they share this one).
    */
  def sizeCodegenCache(): Unit = codegenCacheSized
}
