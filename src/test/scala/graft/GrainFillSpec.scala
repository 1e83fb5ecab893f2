package graft

import org.apache.spark.sql.functions._

/** GraftSession.fillAlongside: a grain filled on a second driver thread
  * runs under the caller's job group, surfaces its failure to the
  * caller, and is cancelled when the caller's own work throws.
  */
class GrainFillSpec extends SparkSpecBase {

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("the fill's job carries the caller's job group") {
    val sc = spark.sparkContext
    val group = s"fill-group-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "grain fill spec")
    val jobs =
      try jobStarts(GraftSession.fillAlongside(spark.range(1000).toDF())(42))
      finally sc.clearJobGroup()
    val fills = jobs.filter(p =>
      Option(p.getProperty("spark.job.tags")).exists(_.contains("graft-fill-")))
    assert(fills.nonEmpty, "the fill ran no tagged job")
    assert(fills.forall(_.getProperty("spark.jobGroup.id") == group),
      fills.map(_.getProperty("spark.jobGroup.id")))
  }

  test("a failing fill surfaces its exception to the caller") {
    val boom = udf((x: Long) => { if (x == 3L) throw new IllegalStateException("fill boom"); x })
    val grain = spark.range(10).where(boom(col("id")) >= 0)
    val e = intercept[Throwable](GraftSession.fillAlongside(grain)("body done"))
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("fill boom")), e)
  }

  test("a throwing body cancels the fill before it rethrows") {
    val sc = spark.sparkContext
    sc.setJobGroup(s"fill-cancel-${java.util.UUID.randomUUID()}", "grain fill spec",
      interruptOnCancel = true)
    val slow = udf((x: Long) => { Thread.sleep(30000); x })
    val grain = spark.range(0, 2, 1, 2).where(slow(col("id")) >= 0)
    val t0 = System.nanoTime()
    val e =
      try intercept[IllegalArgumentException] {
        GraftSession.fillAlongside(grain) {
          Thread.sleep(500) // let the fill submit its job
          throw new IllegalArgumentException("body failed")
        }
      } finally sc.clearJobGroup()
    val waited = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "body failed")
    assert(waited < 15, s"the caller waited $waited s for a fill it should have cancelled")
  }
}
