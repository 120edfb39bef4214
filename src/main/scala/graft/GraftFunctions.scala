package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.functions._

/** SQL-surface registration of the engine's native expressions, so every
  * operator is reachable from plain `spark.sql(...)` — the reference's whole
  * API is SQL text, and a Spark-native replacement should accept SQL too.
  *
  * One deployment form: [[GraftExtensions]], i.e.
  * `spark.sql.extensions=graft.GraftExtensions`, which [[GraftSession]] sets
  * on every session it builds (and a cluster sets in its conf) — the
  * functions exist in every session from startup.
  *
  * The theta, KLL and frequent-items sketches are not registered here:
  * they are Spark built-ins (`theta_sketch_agg`, `theta_union_agg`,
  * `theta_union`, `theta_intersection`, `theta_difference`,
  * `theta_sketch_estimate`, `kll_*_double`, `approx_top_k_*`) and SQL calls
  * them by their own names. Only the theta bounds check, which Spark has no
  * function for, is registered, as `graft_theta_bounds_ok`.
  */
object GraftFunctions {

  /** (name, arity check + constructor) for each native function. */
  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash_sig" -> { es =>
      require(es.length == 4, "graft_minhash_sig(text, k, numHashes, seed)")
      MinHashSigExpr(es.head, intLit(es(1)), intLit(es(2)), longLit(es(3)))
    },
    "graft_simhash64" -> { es =>
      require(es.length == 1, "graft_simhash64(text)")
      SimHash64Expr(es.head)
    },
    "graft_shingle_set" -> { es =>
      require(es.length == 2, "graft_shingle_set(text, k)")
      ShingleSetExpr(NormalizeTextExpr(es.head), intLit(es(1)))
    },
    "graft_jaccard" -> { es =>
      require(es.length == 2, "graft_jaccard(arrayA, arrayB)")
      JaccardExpr(es.head, es(1))
    },
    "graft_cosine" -> { es =>
      require(es.length == 2, "graft_cosine(vecA, vecB)")
      CosineSimExpr(es.head, es(1))
    },
    "graft_lang_id" -> { es =>
      require(es.length == 1, "graft_lang_id(text)")
      LangIdExpr(es.head)
    },
    "graft_normalize_text" -> { es =>
      require(es.length == 1, "graft_normalize_text(text)")
      NormalizeTextExpr(es.head)
    },
    "graft_srp_sigs" -> { es =>
      require(es.length == 5, "graft_srp_sigs(vec, nBits, tables, dim, seed)")
      SrpSigsExpr(es.head, intLit(es(1)), intLit(es(2)), intLit(es(3)), longLit(es(4)))
    },
    "graft_sig_match" -> { es =>
      require(es.length == 2, "graft_sig_match(sigA, sigB)")
      SigMatchFractionExpr(es.head, es(1))
    },
    "graft_char_bigrams" -> { es =>
      require(es.length == 1, "graft_char_bigrams(filteredText)")
      CharBigramsExpr(es.head)
    },
    "graft_funnel_level" -> { es =>
      require(es.length == 3 || es.length == 4,
        "graft_funnel_level(sortedSeq, nSteps, windowSeconds[, mode]) — mode: 0 default, 1 strict_order, 2 strict_dedup, 3 strict_increase")
      FunnelLevelExpr(es.head, intLit(es(1)), longLit(es(2)),
        if (es.length == 4) intLit(es(3)) else 0)
    },
    "graft_sorted_jaccard" -> { es =>
      require(es.length == 2, "graft_sorted_jaccard(sortedArrayA, sortedArrayB)")
      SortedJaccardExpr(es.head, es(1))
    },
    "graft_int_dot" -> { es =>
      require(es.length == 2, "graft_int_dot(intArrayA, intArrayB)")
      IntDotExpr(es.head, es(1))
    },
    "graft_masked_concat" -> { es =>
      require(es.length == 2, "graft_masked_concat(tokens, sortedRemovedPositions)")
      MaskedConcatExpr(es.head, es(1))
    },
    "graft_text_stats" -> { es =>
      require(es.length == 1, "graft_text_stats(text)")
      TextStatsExpr(es.head, TextAnalysis.Stopwords("en"))
    },
    "graft_bitmap_card" -> { es =>
      require(es.length == 1, "graft_bitmap_card(state)")
      BitmapCardExpr(es.head)
    },
    "graft_bitmap_and_card" -> { es =>
      require(es.length == 2, "graft_bitmap_and_card(stateA, stateB)")
      BitmapOpCardExpr(es.head, es(1), BitmapOpCardExpr.And)
    },
    "graft_bitmap_or_card" -> { es =>
      require(es.length == 2, "graft_bitmap_or_card(stateA, stateB)")
      BitmapOpCardExpr(es.head, es(1), BitmapOpCardExpr.Or)
    },
    "graft_bitmap_andnot_card" -> { es =>
      require(es.length == 2, "graft_bitmap_andnot_card(stateA, stateB)")
      BitmapOpCardExpr(es.head, es(1), BitmapOpCardExpr.AndNot)
    },
    "graft_cms_estimate" -> { es =>
      require(es.length == 2, "graft_cms_estimate(state, item)")
      CmsEstimateExpr(es.head, es(1))
    },
    "graft_cms_total" -> { es =>
      require(es.length == 1, "graft_cms_total(state)")
      CmsTotalExpr(es.head)
    },
    "graft_cms_state" -> { es =>
      require(es.length == 1, "graft_cms_state(col)")
      CmsStateAgg(es.head, CountMin.DefaultDepth, CountMin.DefaultWidth)
    },
    "graft_cms_merge_state" -> { es =>
      require(es.length == 1, "graft_cms_merge_state(state)")
      CmsMergeAgg(es.head)
    },
    "graft_theta_bounds_ok" -> { es =>
      require(es.length == 2 || es.length == 3,
        "graft_theta_bounds_ok(state, exact[, numStdDev])")
      ThetaBoundsExpr(es.head, es(1), if (es.length == 3) intLit(es(2)) else 3)
    })

  private def intLit(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }
  private def longLit(e: Expression): Long = e.eval(null) match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(s"expected long literal, got $other")
  }

  private[graft] def inject(ext: SparkSessionExtensions): Unit =
    fns.foreach { case (name, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
         new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
           "graft", name),
         builder))
    }
}

/** `--conf spark.sql.extensions=graft.GraftExtensions`; every
  * [[GraftSession]] installs it: the graft SQL functions and the
  * [[graft.plans.RewriteLatestWinsWindow]] optimizer rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    ext.injectOptimizerRule(_ => graft.plans.RewriteLatestWinsWindow)
  }
}
