package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: wire the engine's custom Catalyst surface
  * into any session via
  * `spark.sql.extensions=graft.core.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), making `lenient_json_clean`,
  * the shingle hashers and the `rrf_score` aggregate available to
  * pure-SQL users without touching the function registry manually.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // Whole-operator as-of join: planner strategy + the pushdown rule
    // Catalyst can't know about (graft.plans.AsofMergeJoin).
    e.injectPlannerStrategy(_ => graft.plans.AsofMergeJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofMergeJoin)
    e.injectFunction((
      FunctionIdentifier("lenient_json_clean"),
      new ExpressionInfo(classOf[graft.functions.LenientJsonClean].getName,
        "lenient_json_clean"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.LenientJsonClean(exprs.head)))
    Seq(1, 2, 3, 5).foreach { k =>
      e.injectFunction((
        FunctionIdentifier(s"shingle_hashes_$k"),
        new ExpressionInfo(classOf[graft.functions.ShingleHashes].getName,
          s"shingle_hashes_$k"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          graft.functions.ShingleHashes(exprs.head, k)))
    }
    e.injectFunction((
      FunctionIdentifier("graft_multi_format_date"),
      new ExpressionInfo(classOf[graft.functions.MultiFormatDate].getName,
        "graft_multi_format_date"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.MultiFormatDate(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_lang_id_vote"),
      new ExpressionInfo(classOf[graft.functions.LangIdVote].getName,
        "graft_lang_id_vote"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.LangIdVote(exprs.head)))
    // portable (oracle-checkable) signature layer — SQL surface
    Seq(1, 2, 3, 5).foreach { k =>
      e.injectFunction((
        FunctionIdentifier(s"poly_shingle_hashes_$k"),
        new ExpressionInfo(classOf[graft.functions.PolyShingleHashes].getName,
          s"poly_shingle_hashes_$k"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          graft.functions.PolyShingleHashes(exprs.head, k)))
    }
    e.injectFunction((
      FunctionIdentifier("poly_simhash"),
      new ExpressionInfo(classOf[graft.functions.PolySimHash].getName,
        "poly_simhash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.PolySimHash(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[graft.functions.RepetitionStats].getName,
        "repetition_stats"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.RepetitionStats(exprs.head, 2, 3)))
    e.injectFunction((
      FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[graft.functions.CharEntropy].getName,
        "char_entropy"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.CharEntropy(exprs.head)))
    // embedding signature layer at the engine's 64-dim table shape
    e.injectFunction((
      FunctionIdentifier("hyperplane_sig_64"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneSig].getName,
        "hyperplane_sig_64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.HyperplaneSig(exprs.head, 64)))
    e.injectFunction((
      FunctionIdentifier("hyperplane_sig_wide_64"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneSigWords].getName,
        "hyperplane_sig_wide_64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.HyperplaneSigWords(exprs.head, 64, 62, 2)))
    // RRF fold Σ 1/(k + rank), k = Rrf.DefaultK, as a SQL aggregate
    e.injectFunction((
      FunctionIdentifier("rrf_score"),
      new ExpressionInfo(classOf[graft.operators.RrfAggregator].getName,
        "rrf_score"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.execution.aggregate.ScalaAggregator(exprs,
          new graft.operators.RrfAggregator(graft.operators.Rrf.DefaultK),
          ExpressionEncoder[Long](), ExpressionEncoder[Double](),
          aggregatorName = Some("rrf_score"))))
  }
}
