package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Builder-time extension installer: makes the engine's native
  * expressions available to pure-SQL sessions without any Scala call.
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  * or
  *   SparkSession.builder().withExtensions(new GraftExtensions) …
  *
  * (For an already-running session, [[graft.functions.VectorExpressions.register]]
  * does the same through the function registry.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.Expression

  private def inject(e: SparkSessionExtensions, name: String, clazz: Class[_],
                     builder: Seq[Expression] => Expression): Unit =
    e.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name), builder))

  override def apply(e: SparkSessionExtensions): Unit = {
    inject(e, "cosine_native", classOf[graft.functions.CosineSimilarity],
      exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1)))
    inject(e, "lsh_bucket", classOf[graft.functions.HyperplaneLshBucket],
      exprs => graft.functions.HyperplaneLshBucket(exprs(0),
        graft.functions.FunctionArgs.foldableInt("lsh_bucket", "bits", exprs(1))))
    inject(e, "ws_token_count", classOf[graft.functions.WsTokenCount],
      exprs => graft.functions.WsTokenCount(exprs(0)))
    inject(e, "punct_count", classOf[graft.functions.PunctCount],
      exprs => graft.functions.PunctCount(exprs(0)))
    inject(e, "word_shingles", classOf[graft.functions.WordShingles],
      exprs => graft.functions.WordShingles(exprs(0),
        graft.functions.FunctionArgs.foldableInt("word_shingles", "n", exprs(1))))
    inject(e, "rolling_hash", classOf[graft.functions.RollingHash],
      exprs => graft.functions.RollingHash(exprs(0)))
    inject(e, "cdc_boundaries", classOf[graft.functions.CdcBoundaries],
      exprs => graft.functions.CdcBoundaries(exprs(0),
        graft.functions.FunctionArgs.foldableInt("cdc_boundaries", "window", exprs(1)),
        graft.functions.FunctionArgs.foldableInt("cdc_boundaries", "mask_bits", exprs(2))))
    inject(e, "jl_project", classOf[graft.functions.JlProject],
      exprs => graft.functions.JlProject(exprs(0),
        graft.functions.FunctionArgs.foldableInt("jl_project", "out_dim", exprs(1))))
    e.injectOptimizerRule(_ => graft.plans.NativeTextRewrites)
    // bare COUNT(*) over a graft V2 relation answers from the
    // generation's manifest — zero data-file opens at any scale
    e.injectOptimizerRule(_ => graft.plans.GraftCountFromManifest)
    // merge-on-read through the V2 reader: a graft relation whose
    // generation carries deletion vectors is REPLACED in the
    // optimizer with the readSnapshot plan (anti-join of the
    // stores) — the SQL surface keeps working the moment a table
    // takes its first DV. Runs AFTER the count rule in each batch
    // iteration (injection order), so a bare COUNT(*) over a DV
    // generation is manifest-answered before the substitution; and
    // after Spark's own predicate pushdown, so an adjacent Filter's
    // conjuncts become readSnapshot's prune boxes —
    // merge-on-read tables keep data skipping through plain SQL
    e.injectOptimizerRule(session =>
      graft.plans.GraftDvReadRewrite(session))
    // manifest data skipping through the V2 reader: WHERE conjuncts
    // on stat-covered keys shrink the relation's file list before
    // any file opens — scanPruned's skip semantics, SQL-reachable
    e.injectOptimizerRule(session =>
      graft.plans.GraftManifestPrune(session))
    // the lifecycle verbs as SQL (GRAFT DESCRIBE HISTORY / OPTIMIZE /
    // VACUUM / RESTORE …) — [[graft.plans.GraftSqlParser]] intercepts
    // the GRAFT keyword and delegates everything else verbatim
    e.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
  }
}
