package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration surface for the engine's native expressions.
  *
  * Two entry points:
  *  - [[register]]: drop the functions into an existing session's
  *    registry (what Verify/Bench/tests use);
  *  - [[GraftExtensions]]: a `SparkSessionExtensions` hook for
  *    `spark.sql.extensions=graft.functions.GraftExtensions`, so a
  *    cluster picks the functions up at session build time.
  */
object GraftFunctions {

  private val cosineBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"cosine_similarity expects 2 arguments, got ${args.length}")
    // accept array<float>/array<int>/... by casting up front (the
    // implicit-cast trait is private[sql] in Spark 4)
    def toDoubles(e: Expression) =
      org.apache.spark.sql.catalyst.expressions.Cast(e,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    CosineSimilarity(toDoubles(args.head), toDoubles(args(1)))
  }

  private val dotBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"dot_product expects 2 arguments, got ${args.length}")
    def toDoubles(e: Expression) =
      org.apache.spark.sql.catalyst.expressions.Cast(e,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    DotProduct(toDoubles(args.head), toDoubles(args(1)))
  }

  private def unaryBuilder(name: String, mk: Expression => Expression): Seq[Expression] => Expression = {
    args =>
      require(args.length == 1, s"$name expects 1 argument, got ${args.length}")
      mk(args.head)
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      cosineBuilder),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      dotBuilder),
    (FunctionIdentifier("byte_sum"),
      new ExpressionInfo(classOf[ByteSum].getName, "byte_sum"),
      unaryBuilder("byte_sum", ByteSum)),
    (FunctionIdentifier("ahash64"),
      new ExpressionInfo(classOf[AHash64].getName, "ahash64"),
      unaryBuilder("ahash64", AHash64)),
    (FunctionIdentifier("morton_interleave"),
      new ExpressionInfo(classOf[MortonInterleave].getName, "morton_interleave"),
      { args =>
        require(args.length == 2, s"morton_interleave expects 2 arguments, got ${args.length}")
        MortonInterleave(args.head, args(1))
      }),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      { args =>
        require(args.length == 2, s"bloom_might_contain expects 2 arguments, got ${args.length}")
        BloomMightContain(args.head, args(1))
      }),
    (FunctionIdentifier("ws_tokens"),
      new ExpressionInfo(classOf[WsTokens].getName, "ws_tokens"),
      unaryBuilder("ws_tokens", WsTokens)),
    (FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      { args =>
        require(args.length == 2, s"word_ngrams expects 2 arguments, got ${args.length}")
        val n = args(1) match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
            if lit.dataType == org.apache.spark.sql.types.IntegerType && lit.value != null =>
            lit.value.asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"word_ngrams window must be an integer literal, got $other")
        }
        WordNgrams(args.head, n)
      }),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      unaryBuilder("minhash_sigs", MinhashSigs)),
    (FunctionIdentifier("rp_bucket"),
      new ExpressionInfo(classOf[RpBucket].getName, "rp_bucket"),
      { args =>
        require(args.length == 4, s"rp_bucket expects 4 arguments, got ${args.length}")
        def intLit(e: Expression, what: String): Int = e match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
            if lit.dataType == org.apache.spark.sql.types.IntegerType && lit.value != null =>
            lit.value.asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"rp_bucket $what must be an integer literal, got $other")
        }
        RpBucket(args.head, intLit(args(1), "table"),
          intLit(args(2), "planes"), intLit(args(3), "dims"))
      }))

  /** Register all engine functions into an existing session. Skips
    * already-registered names so the hot Tables.table call path stays
    * silent (createOrReplaceTempFunction WARN-logs every replacement). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (ident, _, builder) =>
      if (!reg.functionExists(ident))
        reg.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }

  /** DataFrame-side helper: `ws_tokens(c)` on any session, registered
    * or not (Spark 4 keeps building a `Column` from an expression
    * private to its own packages, so this goes through the registry). */
  def wsTokens(spark: SparkSession, c: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("ws_tokens", c)
  }

  /** DataFrame-side helper: `cosineSimilarity(a, b)` without SQL. */
  def cosineSimilarity(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    // route through the registry so the Column API stays version-stable
    org.apache.spark.sql.functions.call_function("cosine_similarity", a, b)
  }

  /** DataFrame-side helper: probe `value` against a built sketch
    * (serialized once here; deserialized once per executor by the
    * expression). */
  def bloomMightContain(spark: SparkSession, value: Column,
                        filter: org.apache.spark.util.sketch.BloomFilter): Column = {
    register(spark)
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    org.apache.spark.sql.functions.call_function("bloom_might_contain",
      value, org.apache.spark.sql.functions.lit(bos.toByteArray))
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}
