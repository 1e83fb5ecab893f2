package graft

import graft.functions.{SpanHash, VectorFns}
import graft.operators.Dedup
import graft.sources.GraftCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference forms of the native kernels: the interpreted
  * higher-order-function and composed-operator shapes each native
  * expression or operator replaced. Production code never runs them;
  * the bit-identity specs compare the engine's output against them.
  */
object KernelReference {

  /** `VectorFns.dot` as aggregate(zip_with): the same accumulation
    * order, two boxed lambda calls per element. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** `Similarity.assignCentroids` as a literal centroid array and a
    * per-row argmax over struct(score, -id): ties go to the smallest
    * id. Adds `centroid_id` to `e`. */
  def assignCentroidsHof(
      e: DataFrame, centroids: Array[(Int, Seq[Double])],
      score: (Column, Column) => Column = VectorFns.cosine(_, _)): DataFrame = {
    val best = array_max(transform(typedlit(centroids.toSeq), c =>
      struct(score(col("emb"), c.getField("_2")).as("cos"),
        (-c.getField("_1")).as("nid"))))
    e.withColumn("centroid_id", (-best.getField("nid")).cast("int"))
  }

  /** `Similarity.subspaceCode` as a literal array of codebooks indexed
    * by `sub`, maximizing the negated squared L2 distance. */
  def subspaceCodeHof(books: Array[Array[(Int, Seq[Double])]]): Column = {
    val bookArr = typedlit(books.map(_.toSeq).toSeq)
    val best = array_max(transform(element_at(bookArr, col("sub") + 1), c =>
      struct((-VectorFns.l2sq(col("emb"), c.getField("_2"))).as("nd"),
        (-c.getField("_1")).as("nid"))))
    (-best.getField("nid")).cast("int")
  }

  /** `Dedup.wordGramHashesOf` in Spark HOFs: the SQL the oracle runs,
    * interpreting two nested lambdas per character. */
  def wordGramHashesHof(documents: DataFrame): DataFrame = {
    val P = SpanHash.P; val B = SpanHash.B; val n = Dedup.SpanWords
    documents
      .withColumn("words", expr(
        "filter(split(trim(lower(text)), '\\\\s+'), w -> length(w) > 0)"))
      .withColumn("wh", expr(
        s"transform(words, w -> aggregate(split(w, ''), cast(0 as bigint), " +
          s"(acc, c) -> (acc * 257 + ascii(c)) % $P))"))
      .withColumn("ghs",
        when(size(col("wh")) < n, expr("cast(array() as array<bigint>)"))
          .otherwise(expr(
            s"""transform(sequence(1, size(wh) - ${n - 1}), p ->
                  ((((((element_at(wh, p) * $B + element_at(wh, p + 1)) % $P)
                      * $B + element_at(wh, p + 2)) % $P)
                      * $B + element_at(wh, p + 3)) % $P))""")))
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("gh"))
  }

  /** `Analytic.qAsofEventOrder` composed from a join and a window:
    * materializes every (event, earlier-order) pair, then ranks. */
  def qAsofEventOrderComposed(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.Events.eventsTable(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val w = Window.partitionBy("event_id").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    ev.join(new GraftCatalog(s, dir).table("orders"),
        col("o_custkey") === col("user_id") && col("o_orderdate") <= col("ts"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy("event_id")
  }
}
