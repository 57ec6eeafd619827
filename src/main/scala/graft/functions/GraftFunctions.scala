package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType}

/** graft's custom Catalyst functions, name → builder. [[GraftExtensions]]
  * installs them, with [[ReferenceNames]]' aliases, when a session is
  * built; there is no other installer.
  */
object GraftFunctions {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_make_histogram" -> { args =>
      require(args.length == 4, "graft_make_histogram(start, end, nb_bins, value)")
      HistogramAgg(
        Cast(args(0), DoubleType), Cast(args(1), DoubleType),
        Cast(args(2), IntegerType), Cast(args(3), DoubleType)).toAggregateExpression()
    },
    "graft_sum_histograms" -> { args =>
      require(args.length == 1, "graft_sum_histograms(histo)")
      SumHistogramsAgg(args(0)).toAggregateExpression()
    },
    "graft_dot" -> { args =>
      require(args.length == 2, "graft_dot(a, b)")
      // DotProduct reads float or double arrays natively (per-element
      // widening, bit-identical); anything else is coerced explicitly
      // so SQL callers can't feed it mistyped arrays.
      def vec(e: Expression): Expression = e.dataType match {
        case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => e
        case _ => Cast(e, ArrayType(DoubleType))
      }
      DotProduct(vec(args(0)), vec(args(1)))
    },
    "graft_l2sq" -> { args =>
      require(args.length == 2, "graft_l2sq(a, b)")
      def vec(e: Expression): Expression = e.dataType match {
        case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => e
        case _ => Cast(e, ArrayType(DoubleType))
      }
      L2Sq(vec(args(0)), vec(args(1)))
    },
    "graft_pq_encode" -> { args =>
      require(args.length == 5 && args.drop(2).forall(_.foldable),
        "graft_pq_encode(qv, cbflat, m, dims, k) — shape args must be literals")
      def ints(e: Expression): Int = e.eval().asInstanceOf[Number].intValue
      def lvec(e: Expression): Expression = e.dataType match {
        case ArrayType(org.apache.spark.sql.types.LongType, _) => e
        case _ => Cast(e, ArrayType(org.apache.spark.sql.types.LongType))
      }
      PqEncode(lvec(args(0)), lvec(args(1)), ints(args(2)), ints(args(3)), ints(args(4)))
    },
    "graft_gram_upper" -> { args =>
      require(args.length == 1, "graft_gram_upper(qv: array<long>)")
      def lvec(e: Expression): Expression = e.dataType match {
        case ArrayType(org.apache.spark.sql.types.LongType, _) => e
        case _ => Cast(e, ArrayType(org.apache.spark.sql.types.LongType))
      }
      GramUpperAgg(lvec(args(0))).toAggregateExpression()
    },
    "graft_normalize" -> { args =>
      require(args.length == 1, "graft_normalize(text)")
      NormalizeWords(Cast(args(0), org.apache.spark.sql.types.StringType))
    },
    "graft_shingles" -> { args =>
      require(args.length == 2 && args(1).foldable,
        "graft_shingles(text, n) — n must be a literal")
      WordShingles(Cast(args(0), org.apache.spark.sql.types.StringType),
        args(1).eval().asInstanceOf[Number].intValue)
    },
    "graft_minhash" -> { args =>
      require(args.length == 2 && args(1).foldable,
        "graft_minhash(shingles, numHashes) — numHashes must be a literal")
      MinhashLongs(args(0), args(1).eval().asInstanceOf[Number].intValue)
    },
    "graft_hash56" -> { args =>
      require(args.length == 1, "graft_hash56(shingles)")
      ShingleHash56(args(0))
    },
    "graft_tokens" -> { args =>
      require(args.length == 1, "graft_tokens(text)")
      WhitespaceTokensKernel(Cast(args(0), org.apache.spark.sql.types.StringType))
    },
    "graft_chunks" -> { args =>
      require(args.length == 2 && args(1).foldable,
        "graft_chunks(text, n) — n must be a literal")
      WordChunks(Cast(args(0), org.apache.spark.sql.types.StringType),
        args(1).eval().asInstanceOf[Number].intValue)
    },
    "graft_bpe_merge" -> { args =>
      require(args.length == 3, "graft_bpe_merge(tokens, w1, w2)")
      BpeMergeKernel(args(0),
        Cast(args(1), org.apache.spark.sql.types.StringType),
        Cast(args(2), org.apache.spark.sql.types.StringType))
    },
    "graft_bpeish" -> { args =>
      require(args.length == 1, "graft_bpeish(text)")
      BpeishCount(Cast(args(0), org.apache.spark.sql.types.StringType))
    },
    "graft_minhash_h56" -> { args =>
      require(args.length == 2 && args(1).foldable,
        "graft_minhash_h56(shingles, numHashes) — numHashes must be a literal")
      MinhashWithHash56(args(0), args(1).eval().asInstanceOf[Number].intValue)
    },
    "graft_textstats" -> { args =>
      require(args.length == 1, "graft_textstats(text)")
      TextStats(Cast(args(0), org.apache.spark.sql.types.StringType))
    },
    "graft_md5min" -> { args =>
      require(args.length == 1, "graft_md5min(arr)")
      Md5Min(args(0))
    },
    "graft_round" -> { args =>
      require(args.length == 2, "graft_round(x, scale)")
      DuckRound(Cast(args(0), DoubleType), Cast(args(1), IntegerType))
    },
    "graft_property_get" -> { args =>
      require(args.length == 2, "graft_property_get(props_json, key)")
      GraftPropertyGet(args(0), args(1))
    })
}

/** `SparkSession.builder.withExtensions(new GraftExtensions)` installs
  * every graft function, table function, the time-range rule and the
  * temporal-join strategies at session build time — the one way graft
  * gets into a session. The admin table functions are the exception:
  * host code adds them to one session with
  * [[ReferenceNames.registerAdmin]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (GraftFunctions.builders ++ ReferenceNames.builders).foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        b))
    }
    // the builders need the session for lake-dir resolution, which
    // injectTableFunction doesn't pass — resolve the active one
    ReferenceNames.tableFunctions.foreach { case (name, b) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        args => b(SparkSession.active)(args)))
    }
    ext.injectResolutionRule(session => graft.plans.TimeRangeRewrite(session))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.BandJoinStrategy)
  }
}

object GraftExtensions {
  /** Fails loudly on a session built without [[GraftExtensions]], where
    * graft's functions would not resolve and a query range would be
    * silently ignored. Checked at the entry points ([[graft.Tables.df]],
    * [[graft.Graft.query]], [[graft.Graft.prepareStatement]]).
    */
  def requireInstalled(spark: SparkSession): Unit =
    require(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.analyzer.extendedResolutionRules
        .exists(_.isInstanceOf[graft.plans.TimeRangeRewrite]),
      "graft needs a session built with .withExtensions(new graft.functions.GraftExtensions)")
}
