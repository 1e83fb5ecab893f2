package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the native graft expressions: registered through
  * `SparkSessionExtensions` (set `spark.sql.extensions=
  * graft.functions.GraftExtensions`), so `spark.sql` queries can call
  * them directly:
  *
  *   SELECT graft_cosine(a, b), graft_simhash(graft_shingle_hashes(toks, 1)) ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    // D-section SQL surface: top-k vector search as TABLE functions —
    // `SELECT * FROM graft_knn(...)` / `graft_knn_ivf(...)` (the
    // index-probing form reads nprobe/nlist of the corpus via hive
    // partition pruning; see GraftKnnTvf)
    e.injectTableFunction((
      FunctionIdentifier("graft_knn"),
      new ExpressionInfo("graft", "graft_knn"),
      (exprs: Seq[Expression]) => GraftKnnTvf.knn(exprs)))
    e.injectTableFunction((
      FunctionIdentifier("graft_knn_ivf"),
      new ExpressionInfo("graft", "graft_knn_ivf"),
      (exprs: Seq[Expression]) => GraftKnnTvf.knnIvf(exprs)))
    e.injectTableFunction((
      FunctionIdentifier("graft_knn_hnsw"),
      new ExpressionInfo("graft", "graft_knn_hnsw"),
      (exprs: Seq[Expression]) => GraftKnnTvf.knnHnsw(exprs)))
    e.injectTableFunction((
      FunctionIdentifier("graft_knn_pq"),
      new ExpressionInfo("graft", "graft_knn_pq"),
      (exprs: Seq[Expression]) => GraftKnnTvf.knnPq(exprs)))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    // B68: rewrite aggregates over a registered base table onto its
    // materialized rollup — pre-CBO, so the operator batch has settled
    // the Aggregate/Filter/relation shape the matcher expects
    e.injectPreCBORule(s => graft.plans.MvRewriteRule(s))
    // a global sort over a small materialized input runs as one task
    // instead of a range-partitioner sample job plus a range shuffle
    e.injectRuntimeOptimizerRule(_ => graft.plans.SingleTaskSort)
  }
}

object GraftExtensions {

  /** A foldable integral argument (e.g. the lane/shingle count).
    * Accepts any integral literal width; anything non-foldable or
    * non-integral is a clear error instead of a raw
    * ClassCastException from a blind asInstanceOf.
    */
  private def litInt(e: Expression, what: String): Int = {
    val v = if (e.foldable) e.eval() else null
    v match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long if l.longValue().isValidInt => l.intValue()
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte => b.intValue()
      case _ => throw new IllegalArgumentException(
        s"[GRAFT] $what must be an integer literal, got: ${e.sql}")
    }
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash" -> { es =>
      MinHashSignatureExpr(es.head,
        if (es.length > 1) litInt(es(1), "graft_minhash lane count") else 64)
    },
    "graft_simhash" -> { es => SimHash64Expr(es.head) },
    "graft_cosine" -> { es => CosineSimilarityExpr(es(0), es(1)) },
    "graft_shingle_hashes" -> { es =>
      WordShingleHashesExpr(es.head,
        if (es.length > 1) litInt(es(1), "graft_shingle_hashes k") else 1)
    },
    // portable word k-gram span hashes over an array<string> of words
    // (the C8/C9 substring-dedup signature, oracle-identical mod-P math)
    "graft_span_hashes" -> { es =>
      WordSpanHashesExpr(es.head,
        if (es.length > 1) litInt(es(1), "graft_span_hashes k") else 4)
    })
}
