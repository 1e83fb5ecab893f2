package graft.operators

import graft.GraftSession.GrainOps
import graft.sources.GraftCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.C11 — semantic deduplication (SemDeDup, Abbas et al. 2023,
  * arXiv:2303.09540): k-means the corpus embeddings, then remove
  * near-duplicate pairs WITHIN each cluster by cosine similarity.
  * Clustering first makes the pairing tractable: pairwise comparison
  * happens only inside a cluster, so with k ∝ n (the paper uses
  * k=110k on LAION) per-cluster membership — and therefore the pair
  * join — stays bounded as the corpus grows.
  *
  * Scale shape: Lloyd rounds run on the deterministic ~10% hash
  * sample (training cost ∝ sample, as in D2/IVF); assignment of the
  * full corpus is a map-side argmin against a LITERAL k×dim centroid
  * array (zero shuffle, zero row explosion — same shape as
  * Similarity.assignCentroids); the only wide exchange is the
  * within-cluster pair join on the cluster id.
  *
  * Exactness: everything before the final cosine is integer
  * arithmetic. Embeddings are fixed-point quantized to micro ints
  * (`floor(x*1e6+0.5)` — exact float→double widening, identical in
  * any engine), distances are sums of products of those ints (≤2^47
  * here, exact in both BIGINT and DOUBLE domains), and per-dim
  * centroid means floor-divide exact integer sums — so training is
  * partition-order independent and the trained centroids can be
  * BAKED into the DuckDB oracle as literals (`Sf001Centroids`, the
  * BpeTokenizer.Sf001Merges pattern; a spec guards against drift).
  * The final cosine divides exact-int dot products by exact-int-
  * derived norms — 3 correctly-rounded IEEE ops on identical inputs
  * — and is floored to a micro int before any comparison (SURVEY §6).
  */
object SemDedup {

  /** Cluster count / Lloyd rounds / similarity threshold (micro). At
    * production scale k grows with the corpus so n/k stays constant;
    * 8 clusters over the test corpora keep clusters at the same
    * relative size the paper targets.
    */
  val DefaultK = 8
  val DefaultIters = 4
  val DefaultTauMicro = 350000L

  private def emb(s: SparkSession, dir: String): DataFrame =
    new GraftCatalog(s, dir).table("embeddings")

  /** Fixed-point micro-int quantization of the embedding column:
    * float widens to double exactly, `floor(x*1e6+0.5)` is identical
    * in every IEEE engine. All downstream training arithmetic is
    * integer on these values.
    */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"),
      transform(col("embedding"), x =>
        floor(x.cast("double") * 1e6 + 0.5)).as("em"))

  /** Integer dot product / squared L2 over micro-int arrays — exact
    * BIGINT arithmetic (dim=64, |x|≤~1e6 → |sum| ≤ ~2^47).
    */
  private[graft] def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
  private def l2sqL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Map-side nearest-centroid assignment against a literal centroid
    * table: per-row argmin of exact integer L2, ties to the smallest
    * centroid id via min(struct(dist, cid)) — no crossJoin, no
    * shuffle (the IVF assignment shape, integer flavor). Adds
    * `cluster`.
    */
  private[graft] def assignNearest(e: DataFrame,
      centroids: Seq[(Int, Seq[Long])]): DataFrame =
    e.withColumn("cluster", nearestCluster(typedlit(centroids)))

  private def nearestCluster(cArr: Column): Column = {
    val best = array_min(transform(cArr, c =>
      struct(l2sqL(col("em"), c.getField("_2")).as("d"),
        c.getField("_1").as("cid"))))
    best.getField("cid")
  }

  /** Lloyd-ROUND flavor: the centroid table rides as a one-row
    * broadcast LocalRelation instead of a per-round plan literal, so
    * the round plan's text — and its codegen — is round-invariant
    * (codegen cache hits from round 2 on). Integer-exact
    * arithmetic makes the result provably identical; the baked
    * Sf001Centroids spec guards it anyway.
    */
  private[graft] def assignNearestRound(e: DataFrame,
      centroids: Seq[(Int, Seq[Long])]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.crossJoin(broadcast(Seq(Tuple1(centroids)).toDF("__cents")))
      .withColumn("cluster", nearestCluster(col("__cents")))
      .drop("__cents")
  }

  /** Lloyd's k-means in fixed point over the ~10% hash sample.
    * Deterministic and partition-order independent: seeds are the k
    * sample members with the smallest (hash, vec_id) rank; per-dim
    * means are floor(sum/count) where the BIGINT sum is associative
    * (exact while cluster row-counts stay under ~2^53/1e6 ≈ 9e9 rows
    * — commodity-cluster headroom). A cluster with zero assignments
    * keeps its previous centroid.
    */
  private[graft] def trainCentroids(s: SparkSession, dir: String,
      k: Int = DefaultK, iters: Int = DefaultIters): Array[(Int, Seq[Long])] = {
    import s.implicits._
    val sample = quantized(s, dir)
      .where(pmod(col("vec_id") * 2654435761L, lit(1000)) < 100)
      .grainCache() // k+1 tiny scans (seed + iters assignments)
    var centroids: Array[(Int, Seq[Long])] = sample
      .orderBy(pmod(col("vec_id") * 2654435761L, lit(1000000)), col("vec_id"))
      .limit(k)
      .select(col("em")).as[Seq[Long]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 0 until iters) {
      val updated = assignNearestRound(sample, centroids.toSeq)
        .select(col("cluster"), posexplode(col("em")).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg(sum("v").as("sm"), count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          floor(col("sm").cast("double") / col("n")).cast("long").as("m"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dims"))
        .select(col("cluster"), expr("transform(dims, d -> d.m)").as("c_em"))
        .as[(Int, Seq[Long])].collect().toMap
      centroids = centroids.map { case (id, prev) => (id, updated.getOrElse(id, prev)) }
    }
    sample.unpersist()
    centroids
  }

  /** The clustered corpus with per-vector norms: (vec_id, em, nrm,
    * cluster). Exposed for the zero-shuffle plan-shape spec.
    */
  private[graft] def assigned(s: SparkSession, dir: String,
      centroids: Seq[(Int, Seq[Long])]): DataFrame =
    assignNearest(quantized(s, dir), centroids)
      .withColumn("nrm", sqrt(dotL(col("em"), col("em")).cast("double")))

  /** C11 query: train (sample) → assign (map-side) → within-cluster
    * pairwise cosine → mark duplicates. A vector is a duplicate when
    * some SMALLER-id cluster-mate scores ≥ τ; `dup_of` records the
    * smallest such partner (the kept representative), NULL for
    * survivors. Output: one row per vector, ordered by vec_id.
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val trained = trainCentroids(s, dir)
    val asg = assigned(s, dir, trained.toSeq).grainCache() // both pair sides + final join
    val a = asg.select(col("cluster"), col("vec_id").as("vec_a"),
      col("em").as("em_a"), col("nrm").as("nrm_a"))
    val b = asg.select(col("cluster"), col("vec_id").as("vec_b"),
      col("em").as("em_b"), col("nrm").as("nrm_b"))
    val pairs = a.join(b, Seq("cluster"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_b"),
        col("vec_a"),
        floor(dotL(col("em_a"), col("em_b")).cast("double")
          / (col("nrm_a") * col("nrm_b")) * 1e6).as("cos_micro"))
    val removed = pairs.where(col("cos_micro") >= DefaultTauMicro)
      .groupBy("vec_b").agg(min("vec_a").as("dup_of"))
      .withColumnRenamed("vec_b", "vec_id")
    asg.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup_of").isNull, 0L).otherwise(1L).as("is_dup"),
        col("dup_of"))
      .orderBy("vec_id")
  }

  /** Centroids `trainCentroids` learns at sf0.01 (the driver's
    * correctness scale) — BAKED so the DuckDB oracle can replay
    * assignment + pairing as literal SQL. Regenerated by
    * `printSf001Centroids`; SemDedupSpec asserts training still
    * produces exactly this table, so drift breaks the build, not the
    * correctness board.
    */
  val Sf001Centroids: Seq[(Int, Seq[Long])] = Seq(
    (0, Seq(155520L, -3960L, 23775L, -57256L, 153145L, -9217L, -159145L, 11345L, 141520L, 23195L, 135058L, -41580L, -35901L, 40775L, 114072L, -12829L, 14563L, -27956L, 8423L, 31441L, -133028L, -62594L, -11719L, -9281L, -152401L, 161323L, 6279L, -49853L, 38151L, 17230L, 61422L, 141865L, -176775L, -52663L, -58049L, -163092L, -80292L, -79841L, -38146L, 92836L, -142458L, 36232L, -94145L, 2666L, -59649L, -77324L, 56857L, -60794L, 102024L, -50215L, -13281L, 2986L, 68977L, -76054L, 77278L, -22788L, -59587L, 45340L, -61424L, -96337L, 14308L, 8892L, 54789L, -148020L)),
    (1, Seq(-4830L, 16200L, 68876L, 13128L, -61374L, -60797L, 37489L, -15359L, 3749L, 34619L, 49410L, -10104L, -165L, -14725L, 41265L, 56612L, 51966L, 84910L, -15290L, 13358L, -39807L, 4110L, -9240L, 78778L, -53333L, -111439L, 33754L, 4411L, 76458L, -15914L, 23803L, 9010L, -14964L, -6818L, 27927L, 27952L, -17423L, -64838L, 7918L, -49680L, 21481L, -44981L, -44721L, 33528L, -86066L, 37949L, -37960L, 10582L, -68961L, -19472L, 385L, 32019L, -66984L, -6276L, 63476L, 18553L, -69178L, -15182L, -34049L, 7291L, -30115L, -36081L, 86929L, -46936L)),
    (2, Seq(-62788L, -88629L, 4976L, 53630L, 41993L, -46935L, -12735L, -31054L, 82433L, -43890L, -21055L, 17299L, 23276L, 9176L, 43196L, -57006L, 54570L, -68688L, -19335L, 101150L, 65849L, 30016L, 12600L, 42914L, 81417L, -186527L, -8374L, 187L, -57820L, -70818L, -31585L, -58612L, 5646L, -69738L, -78325L, -46199L, 27829L, -49090L, -9879L, 90663L, -2367L, 49905L, 56417L, 18972L, 27716L, -793L, -53671L, -25753L, -28189L, -39179L, 125891L, 79952L, 80198L, -12614L, 44855L, 21112L, 38572L, 55598L, -59574L, -139543L, -3834L, 42171L, -21352L, -17142L)),
    (3, Seq(-6980L, 2253L, 37453L, -50605L, -91932L, -48821L, -10219L, 23730L, -20240L, -68542L, -126307L, 61406L, 31875L, 72081L, -35716L, -113156L, -42122L, -66198L, -47380L, -24829L, -23472L, 80324L, -1107L, 20512L, 58379L, 30739L, 8978L, 50067L, -40030L, 74237L, -94293L, -36585L, 45362L, 972L, -15909L, -1686L, 81505L, -3202L, 3673L, 23644L, -25532L, 6126L, -2982L, -42817L, -47765L, 36170L, 25353L, -32953L, -31707L, -345L, 30025L, -13321L, -15448L, 23018L, -89212L, -32151L, -43480L, -109335L, -31657L, -71697L, 22280L, 49050L, -14783L, 42924L)),
    (4, Seq(-39264L, -157764L, 67769L, 6924L, 32314L, 172334L, -110828L, -26166L, -79613L, 87540L, -2671L, 94076L, 53242L, -57523L, 37727L, 35063L, -61876L, 16663L, 13248L, 54182L, 78750L, -177352L, 5679L, 7552L, -158032L, 150662L, -14049L, 74273L, -101976L, -22402L, -51334L, -79431L, 32428L, 54939L, 157538L, -7486L, -397L, 43297L, 65531L, 39417L, -46295L, -58019L, -30763L, -29513L, 67120L, -56426L, -23838L, -98109L, 52397L, -56302L, -29985L, -25508L, -85307L, 15546L, 41691L, 23704L, -15811L, -59442L, 44202L, -39193L, 98938L, 72840L, 61082L, -36973L)),
    (5, Seq(22667L, -76427L, -112921L, 55193L, 10415L, -27494L, 29672L, -28420L, -141334L, -111575L, -2732L, 29066L, -52031L, 79569L, -62505L, 109376L, 34884L, -57421L, -39391L, -94216L, 10001L, 47458L, -20657L, 71599L, 2508L, 21277L, -33303L, -42514L, -5921L, 54674L, 113634L, -14130L, -54994L, -1332L, -80657L, -9407L, 2458L, 32163L, 37821L, 52165L, -11342L, -83829L, 67679L, -29784L, 61536L, 37731L, 21051L, 55018L, 21961L, -29491L, -84555L, -79060L, -18437L, -53378L, -50547L, 26853L, 72223L, 701L, -54796L, 59118L, -4448L, 83183L, -60223L, -33562L)),
    (6, Seq(-90245L, -97229L, 138096L, 58510L, 30679L, 66895L, -99393L, 109235L, 48442L, -60756L, 18417L, -26735L, 42830L, -23307L, -42859L, 9014L, -92336L, -69062L, -116531L, -32623L, -24160L, -6792L, 69327L, -116969L, -43911L, 49106L, 34544L, -26087L, 12292L, -78161L, 91023L, 26049L, 21678L, -1186L, -5522L, 18725L, -166788L, 37160L, 43964L, -97102L, -79629L, -54541L, 24848L, 7493L, -17339L, -39938L, 67055L, 107442L, -71722L, -4789L, -43185L, -12681L, 10096L, 64712L, -39677L, -87766L, 45621L, -56302L, 13986L, -44624L, -77783L, 33383L, -13764L, -8937L)),
    (7, Seq(-16990L, 130241L, -35472L, -44137L, 57500L, 88476L, 92988L, -23909L, -146666L, 15272L, -118233L, 92052L, -54565L, -28715L, -35486L, -78582L, -54322L, -51626L, 70723L, 17033L, -86598L, -43587L, -49685L, 28040L, -990L, -35580L, 67621L, -179179L, 52256L, -88089L, 44916L, -128419L, 108574L, 7480L, -70140L, -47054L, -157282L, 85151L, 65515L, -33291L, -107331L, 3071L, 90476L, -26047L, 82610L, -7886L, 58748L, 20193L, 58496L, 3364L, -17792L, -26529L, 25022L, -38188L, 27130L, -105884L, 51752L, 36417L, 12717L, 62565L, 10787L, -28147L, 27263L, -117763L)))

  /** Regeneration helper: paste the printed literal over
    * `Sf001Centroids` after a deliberate trainer change.
    */
  def printSf001Centroids(s: SparkSession, dir: String): Unit =
    trainCentroids(s, dir).foreach { case (cid, v) =>
      println(s"    ($cid, Seq(${v.mkString("L, ")}L)),")
    }

  /** The DuckDB oracle: identical quantization, baked-centroid argmin
    * assignment (integer arithmetic is exact in DOUBLE below 2^53, so
    * `list_dot_product` over the micro-int lists reproduces the BIGINT
    * values bit-for-bit), identical pairing and flooring.
    */
  def oracleSql(centroids: Seq[(Int, Seq[Long])] = Sf001Centroids,
      tauMicro: Long = DefaultTauMicro): String = {
    val rows = centroids.map { case (cid, v) =>
      s"($cid, [${v.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")
    s"""
      WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> floor(x * 1000000.0 + 0.5)) AS em
        FROM embeddings),
      c(cid, cv) AS (VALUES
        $rows),
      n AS (SELECT vec_id, em, sqrt(list_dot_product(em, em)) AS nrm FROM e),
      d AS (SELECT vec_id, em, nrm, cid,
              list_dot_product(em, em) - 2 * list_dot_product(em, cv)
                + list_dot_product(cv, cv) AS dist
            FROM n CROSS JOIN c),
      asg AS (SELECT vec_id, em, nrm, cid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rn
              FROM d),
      v AS (SELECT vec_id, em, nrm, cid FROM asg WHERE rn = 1),
      p AS (SELECT b.vec_id AS vec_b, a.vec_id AS vec_a,
              floor(list_dot_product(a.em, b.em) / (a.nrm * b.nrm)
                    * 1000000.0) AS cos_micro
            FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      r AS (SELECT vec_b AS vec_id, min(vec_a) AS dup_of
            FROM p WHERE cos_micro >= $tauMicro GROUP BY vec_b)
      SELECT v.vec_id, CAST(v.cid AS BIGINT) AS cluster,
             CAST(CASE WHEN r.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
             r.dup_of
      FROM v LEFT JOIN r ON v.vec_id = r.vec_id
      ORDER BY v.vec_id"""
  }
}
