package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{CharEntropy, CosineSimilarity, MinHashSignature, MinHashSketch, NgramSlots, NgramTop, RollingHash, SimHash64, SpaceSavingSketch, WordChunks, WordShingles}

/** Session extensions: registers graft's native Catalyst expressions so they
  * are callable from SQL and `call_function`, and installs the
  * [[BindFilterValues]] post-planner rule.
  *
  * Install with `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.cosineSim)
    e.injectFunction(GraftExtensions.minhashSketch)
    e.injectFunction(GraftExtensions.wordShingles)
    e.injectFunction(GraftExtensions.minhashSignature)
    e.injectFunction(GraftExtensions.simhash64)
    e.injectFunction(GraftExtensions.wordChunks)
    e.injectFunction(GraftExtensions.rollingHash)
    e.injectFunction(GraftExtensions.spaceSaving)
    e.injectFunction(GraftExtensions.ngramSlots)
    e.injectFunction(GraftExtensions.charEntropy)
    e.injectFunction(GraftExtensions.ngramTop)
    e.injectQueryPostPlannerStrategyRule(_ => BindFilterValues)
  }
}

object GraftExtensions {

  /** SQL-boundary argument checks shared by every builder: a wrong arg
    * COUNT must be a descriptive error, not an IndexOutOfBoundsException,
    * and size-style parameters accept any FOLDABLE integer expression
    * (`space_saving(tok, 32+32)`), not only a bare literal — these run at
    * plan build, so constant-evaluating them is free. */
  private def arity(name: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${exprs.length}")

  private def intArg(name: String, what: String, e: Expression): Int =
    if (e.foldable && e.dataType == IntegerType)
      e.eval() match {
        case i: Int => i
        case null => throw new IllegalArgumentException(
          s"$name $what must not be NULL")
      }
    else throw new IllegalArgumentException(
      s"$name $what must be a constant integer expression, got $e")

  private def sketchBuilder(exprs: Seq[Expression]): Expression = {
    arity("minhash_sketch", exprs, 2)
    MinHashSketch(exprs(0), intArg("minhash_sketch", "k", exprs(1)))
      .toAggregateExpression()
  }

  private val cosineSim = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (exprs: Seq[Expression]) => {
      arity("cosine_sim", exprs, 2)
      CosineSimilarity(exprs(0), exprs(1))
    })

  private val minhashSketch = (
    FunctionIdentifier("minhash_sketch"),
    new ExpressionInfo(classOf[MinHashSketch].getName, "minhash_sketch"),
    (exprs: Seq[Expression]) => sketchBuilder(exprs))

  private def shinglesBuilder(exprs: Seq[Expression]): Expression = {
    arity("word_shingles", exprs, 2)
    WordShingles(exprs(0), intArg("word_shingles", "n", exprs(1)))
  }

  private val wordShingles = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (exprs: Seq[Expression]) => shinglesBuilder(exprs))

  private def signatureBuilder(exprs: Seq[Expression]): Expression = {
    arity("minhash_signature", exprs, 3)
    MinHashSignature(exprs(0), intArg("minhash_signature", "n", exprs(1)),
      intArg("minhash_signature", "k", exprs(2)))
  }

  private val minhashSignature = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
    (exprs: Seq[Expression]) => signatureBuilder(exprs))

  private def simhashBuilder(exprs: Seq[Expression]): Expression = {
    arity("simhash64", exprs, 2)
    SimHash64(exprs(0), intArg("simhash64", "bits", exprs(1)))
  }

  private val simhash64 = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    (exprs: Seq[Expression]) => simhashBuilder(exprs))

  private def chunksBuilder(exprs: Seq[Expression]): Expression = {
    arity("word_chunks", exprs, 3)
    WordChunks(exprs(0), intArg("word_chunks", "width", exprs(1)),
      intArg("word_chunks", "stride", exprs(2)))
  }

  private val wordChunks = (
    FunctionIdentifier("word_chunks"),
    new ExpressionInfo(classOf[WordChunks].getName, "word_chunks"),
    (exprs: Seq[Expression]) => chunksBuilder(exprs))

  private def rollingHashBuilder(exprs: Seq[Expression]): Expression = {
    arity("rolling_hash", exprs, 1)
    RollingHash(exprs(0))
  }

  private val rollingHash = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
    (exprs: Seq[Expression]) => rollingHashBuilder(exprs))

  private def spaceSavingBuilder(exprs: Seq[Expression]): Expression = {
    arity("space_saving", exprs, 2)
    SpaceSavingSketch(exprs(0), intArg("space_saving", "capacity", exprs(1)))
      .toAggregateExpression()
  }

  private val spaceSaving = (
    FunctionIdentifier("space_saving"),
    new ExpressionInfo(classOf[SpaceSavingSketch].getName, "space_saving"),
    (exprs: Seq[Expression]) => spaceSavingBuilder(exprs))

  private def slotsBuilder(exprs: Seq[Expression]): Expression = {
    arity("ngram_slots", exprs, 2)
    NgramSlots(exprs(0), intArg("ngram_slots", "n", exprs(1)))
  }

  private val ngramSlots = (
    FunctionIdentifier("ngram_slots"),
    new ExpressionInfo(classOf[NgramSlots].getName, "ngram_slots"),
    (exprs: Seq[Expression]) => slotsBuilder(exprs))

  private def charEntropyBuilder(exprs: Seq[Expression]): Expression = {
    arity("char_entropy", exprs, 1)
    CharEntropy(exprs(0))
  }

  private val charEntropy = (
    FunctionIdentifier("char_entropy"),
    new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
    (exprs: Seq[Expression]) => charEntropyBuilder(exprs))

  private def ngramTopBuilder(exprs: Seq[Expression]): Expression = {
    arity("ngram_top", exprs, 2)
    NgramTop(exprs(0), intArg("ngram_top", "n", exprs(1)))
  }

  private val ngramTop = (
    FunctionIdentifier("ngram_top"),
    new ExpressionInfo(classOf[NgramTop].getName, "ngram_top"),
    (exprs: Seq[Expression]) => ngramTopBuilder(exprs))

  /** Imperative registration for sessions built without the extension
    * (idempotent) — keeps library call sites working under any session.
    * Planner rules cannot be added to a running session, so such a
    * session keeps filter literals in its generated code. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_sim", exprs => {
      arity("cosine_sim", exprs, 2)
      CosineSimilarity(exprs(0), exprs(1))
    }, "built-in")
    reg.createOrReplaceTempFunction("minhash_sketch", sketchBuilder, "built-in")
    reg.createOrReplaceTempFunction("space_saving", spaceSavingBuilder, "built-in")
    reg.createOrReplaceTempFunction("word_shingles", shinglesBuilder, "built-in")
    reg.createOrReplaceTempFunction("minhash_signature", signatureBuilder, "built-in")
    reg.createOrReplaceTempFunction("simhash64", simhashBuilder, "built-in")
    reg.createOrReplaceTempFunction("word_chunks", chunksBuilder, "built-in")
    reg.createOrReplaceTempFunction("rolling_hash", rollingHashBuilder, "built-in")
    reg.createOrReplaceTempFunction("ngram_slots", slotsBuilder, "built-in")
    reg.createOrReplaceTempFunction("char_entropy", charEntropyBuilder, "built-in")
    reg.createOrReplaceTempFunction("ngram_top", ngramTopBuilder, "built-in")
  }
}
