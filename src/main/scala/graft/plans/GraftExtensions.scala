package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Engine Catalyst extensions (SURVEY §7.3 "custom Catalyst only if
  * desired"). Install at build time:
  *
  *   GraftSession.builder()
  *     .withExtensions(new GraftExtensions)          // or
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *
  * or at runtime on an existing session via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.minhashFunction)
    ext.injectFunction(GraftExtensions.rangeOverlapFunction)
    ext.injectFunction(GraftExtensions.dotProductFunction)
    ext.injectFunction(GraftExtensions.adcDistanceFunction)
    ext.injectFunction(GraftExtensions.winnowFunction)
    GraftExtensions.columnFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftExtensions.getClass.getName, name), builder))
    }
    ext.injectOptimizerRule(_ => BinnedIntervalJoinRule())
  }
}

object GraftExtensions {

  private def intLiteral(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val minhashFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "minhash_signature(tokens, k)")
      MinHashSignature(exprs.head, intLiteral(exprs(1), "k"))
    })

  val rangeOverlapFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("range_overlap"),
    new ExpressionInfo(classOf[RangeOverlap].getName, "range_overlap"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 4, "range_overlap(s1, e1, s2, e2)")
      RangeOverlap(exprs(0), exprs(1), exprs(2), exprs(3))
    })

  val dotProductFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "dot_product(vec_a, vec_b)")
      DotProduct(exprs(0), exprs(1))
    })

  val adcDistanceFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("adc_distance"),
    new ExpressionInfo(classOf[AdcDistance].getName, "adc_distance"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "adc_distance(codes, dist_table)")
      AdcDistance(exprs(0), exprs(1))
    })

  val winnowFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("winnow"),
    new ExpressionInfo(classOf[WinnowExpr].getName, "winnow"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 3, "winnow(text, k, w)")
      WinnowExpr(exprs(0), intLiteral(exprs(1), "k"), intLiteral(exprs(2), "w"))
    })

  /** SQL surface for the Column-composition text/vector API: each entry
    * wraps a `Column => Column` builder into an expression-tree builder
    * via the graftbridge, so `spark.sql("SELECT lang_id(text) ...")`
    * plans the exact same codegen'd tree as the Scala API — no UDFs.
    */
  val columnFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression => expression}
    def fn1(name: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : (String, Seq[Expression] => Expression) =
      name -> { exprs: Seq[Expression] =>
        require(exprs.length == 1, s"$name(col)")
        expression(f(column(exprs.head)))
      }
    Seq(
      fn1("lang_id", graft.functions.TextFunctions.langId),
      fn1("quality_score", graft.functions.TextFunctions.qualityScore),
      fn1("token_count", graft.functions.TextFunctions.tokenCount),
      fn1("bpeish_token_count", graft.functions.TextFunctions.bpeishTokenCount),
      fn1("scrub_pii", graft.functions.TextFunctions.scrubPii),
      fn1("doc_fingerprint", graft.functions.TextFunctions.fingerprint),
      "simhash" -> { exprs: Seq[Expression] =>
        require(exprs.length == 2, "simhash(tokens, bits)")
        expression(graft.functions.DedupFunctions.simhash(
          column(exprs.head), intLiteral(exprs(1), "bits")))
      },
      "cosine_sim" -> { exprs: Seq[Expression] =>
        require(exprs.length == 2, "cosine_sim(vec_a, vec_b)")
        expression(graft.functions.VectorFunctions.cosine(
          column(exprs(0)), column(exprs(1))))
      },
      "top_k" -> { exprs: Seq[Expression] =>
        require(exprs.length == 3 || exprs.length == 4,
          "top_k(score, id, k[, descending])")
        val desc = exprs.lift(3).forall {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"descending must be a boolean literal, got $other")
        }
        TopKAggregate(exprs(0), exprs(1), intLiteral(exprs(2), "k"), desc)
          .toAggregateExpression()
      },
      "shingle_hashes" -> { exprs: Seq[Expression] =>
        require(exprs.length == 2, "shingle_hashes(text, n)")
        ShingleHashExpr(exprs.head, intLiteral(exprs(1), "n"))
      },
      "normalize_text" -> { exprs: Seq[Expression] =>
        require(exprs.length == 1 || exprs.length == 2,
          "normalize_text(text[, strip_punct])")
        val strip = exprs.lift(1).forall {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"strip_punct must be a boolean literal, got $other")
        }
        NormalizeTextExpr(exprs.head, strip)
      },
      "token_gram_stats" -> { exprs: Seq[Expression] =>
        require(exprs.length == 2, "token_gram_stats(text, n)")
        TokenGramStatsExpr(exprs.head, intLiteral(exprs(1), "n"))
      },
      "zorder_key" -> { exprs: Seq[Expression] =>
        require(exprs.length == 2, "zorder_key(x, y)")
        expression(graft.sources.Layout.zorderKey2(
          column(exprs(0)), column(exprs(1))))
      },
      "freq_candidates" -> { exprs: Seq[Expression] =>
        require(exprs.length == 2, "freq_candidates(item, k)")
        // cast-to-string first, exactly like the Column API
        // (FreqItemsAggregate.freqCandidates): without it the aggregate
        // sees internal Catalyst values, so e.g. a DATE column would
        // stringify as days-since-epoch here but 'yyyy-MM-dd' there
        FreqItemsAggregate(
          org.apache.spark.sql.catalyst.expressions.Cast(exprs.head,
            org.apache.spark.sql.types.StringType),
          intLiteral(exprs(1), "k"))
          .toAggregateExpression()
      })
  }

  /** Runtime registration on an already-built session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature", exprs => minhashFunction._3(exprs), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "range_overlap", exprs => rangeOverlapFunction._3(exprs), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => dotProductFunction._3(exprs), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "adc_distance", exprs => adcDistanceFunction._3(exprs), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow", exprs => winnowFunction._3(exprs), "scala_udf")
    columnFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, exprs => builder(exprs), "scala_udf")
    }
    val rule = BinnedIntervalJoinRule()
    if (!spark.sessionState.experimentalMethods.extraOptimizations.contains(rule))
      spark.sessionState.experimentalMethods.extraOptimizations =
        spark.sessionState.experimentalMethods.extraOptimizations :+ rule
  }
}
