package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `spark.sql.extensions` entry point — the idiomatic way to ship this
  * library onto a cluster: set
  * `spark.sql.extensions=graft.GraftExtensions` (spark-submit conf or
  * spark-defaults) and every session the cluster builds has the native
  * text/vector expressions available in SQL with no per-session
  * `register` call. Equivalent to
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * The same Catalyst `Expression` classes back both paths
  * ([[graft.functions.GraftFunctions.register]] stays for ad-hoc/test
  * use), so plans and codegen are identical either way. `minhash_sig`
  * binds the engine's default lane constants here; queries that need
  * custom lanes re-register over it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression): Int =
    e.eval(null) match { case i: Int => i; case l: Long => l.toInt; case other => other.toString.toInt }

  private def fn(ext: SparkSessionExtensions, name: String,
                 builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the engine's optimizer rules: cluster sessions get them with the
    // functions; Graft.prepare installs them for sessions built without
    // extensions
    Graft.optimizerRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    fn(ext, "word_shingles", exprs => WordShingles(exprs.head, intLit(exprs(1))))
    fn(ext, "word_shingle_hashes", exprs => WordShingleHashes(exprs.head, intLit(exprs(1))))
    fn(ext, "word_shingle_count", exprs => WordShingleCount(exprs.head, intLit(exprs(1))))
    fn(ext, "simhash32", exprs => SimHash32(exprs.head))
    fn(ext, "winnow_fps", exprs => WinnowFingerprints(exprs.head, intLit(exprs(1)), intLit(exprs(2))))
    fn(ext, "dot_d", exprs => DotProductD(exprs.head, exprs(1)))
    fn(ext, "minhash_sig", exprs => MinhashSignature(exprs.head,
      graft.queries.LlmQueries.MinhashParams.map(_._1),
      graft.queries.LlmQueries.MinhashParams.map(_._2),
      graft.queries.LlmQueries.MinhashP))
    // mergeable quantile sketch + property-bag mutators (round 13)
    fn(ext, "tdigest", exprs => TdigestAgg(exprs.head))
    fn(ext, "tdigest_merge", exprs => TdigestMergeAgg(exprs.head))
    fn(ext, "percentile_tdigest", exprs => PercentileTdigest(exprs.head, exprs(1)))
    fn(ext, "cm_sketch", exprs => CmSketchAgg(exprs.head))
    fn(ext, "cm_merge", exprs => CmMergeAgg(exprs.head))
    fn(ext, "cm_estimate", exprs => CmEstimate(exprs.head, exprs(1)))
    fn(ext, "cm_total", exprs => CmTotal(exprs.head))
    fn(ext, "bag_merge", exprs => exprs.reduce(BagMerge(_, _)))
    fn(ext, "bag_remove_keys", exprs => BagRemoveKeys(exprs.head, exprs(1)))
    fn(ext, "bag_set_key", exprs => BagSetKey(exprs.head, exprs(1), exprs(2)))
  }
}
