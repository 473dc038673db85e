package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.Numeric.microRound
import graft.functions.VectorFunctions.vectorSum

/** Spherical k-means (cosine Lloyd iterations) over an embedding
  * corpus.
  *
  * Mirrors recap-worker's clustering step
  * (recap-worker/recap-worker/src/util/kmeans.rs:22 KMeans::new — k-means over
  * sentence embeddings for recap grouping), as iterated DataFrame
  * plans: each iteration is one driver-side-centroid assign (no
  * shuffle of the corpus) plus one per-dimension mean aggregation
  * (one shuffle keyed by cluster — bounded by k groups of dim
  * numbers). Centroids stay tiny and ship inside the plan; the corpus
  * is persisted once and never re-shuffled, so iteration cost is
  * linear scans — the plan a 100 TB run needs.
  */
object KMeans {

  /** Run `iters` Lloyd iterations from label-seeded clusters; returns
    * (vec_id, cluster, cc) assignments of the final iteration. Uses
    * the shared Similarity.centroidsFor / assignToCentroids building
    * blocks; each iteration's cache is dropped once the next one
    * materializes (only the corpus + the live assignment stay cached).
    */
  def fit(e: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val corpus = e.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
    val dim = Similarity.dimOf(corpus)
    var assigned = e.select(col("vec_id"), col("embedding"), col("label").as("cell"))
      .withColumn("cc", lit(null).cast("double"))
    var i = 0
    while (i < iters) {
      // assignToCentroids collects the k centroids to the driver and
      // holds them in the next plan's NearestCentroid kernel, so each
      // iteration's lineage is exactly (corpus cache scan → one
      // projection) — no chained lineage, no per-iteration persist, no
      // corpus fan-out. The kernel, not a ladder of k cosine literals,
      // keeps that projection small enough for the JIT to compile.
      val cents = Similarity.centroidsFor(assigned, "cell", dim)
      assigned = Similarity.assignToCentroids(corpus, cents)
      i += 1
    }
    corpus.unpersist(blocking = false)
    // persisted: callers typically run several actions on the fitted
    // assignment (sizes, cost, purity) — without this each one re-scans
    // the source and re-runs k cosine kernels per row
    assigned.withColumnRenamed("cell", "cluster")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Mean cosine of vectors to their assigned centroid — the
    * monotonicity witness (must not decrease across iterations).
    */
  def cost(assigned: DataFrame): Double =
    assigned.agg(avg("cc")).head().getDouble(0)

  /** Mini-batch (spherical) k-means: per epoch, sample a fraction of
    * the corpus, assign it against the frozen driver-side centroids,
    * and fold the batch into each centroid with the running-mean rate.
    *
    * Mirrors recap-worker's MiniBatchKMeans
    * (recap-worker/recap-worker/src/util/kmeans.rs:98, the Sculley 2010
    * update): the reference applies points one at a time with
    * per-centre rate eta = 1/count, which telescopes over a batch to
    * exactly `(count·centroid + batchSum) / (count + batchSize)` — so
    * the batch-aggregated update below is the same arithmetic, batched
    * for a distributed corpus. Per epoch the cluster work is one
    * sampled scan + one bounded (k×dim after map-side combine)
    * aggregation; only k×dim numbers ever reach the driver, so epochs
    * cost the same at 100 TB as the corpus scan does.
    */
  def fitMiniBatch(e: DataFrame, epochs: Int, fraction: Double, seed: Long = 42L): DataFrame = {
    require(epochs >= 1 && fraction > 0 && fraction <= 1)
    val corpus = e.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
    val dim = Similarity.dimOf(corpus)
    val (init, cellLit) = Similarity.sortedCellsAndLit(
      Similarity.centroidsFor(e, "label", dim).select("cell", "centroid").collect())
    val cellIdx: Map[Any, Int] = init.map(_.get(0)).zipWithIndex.toMap
    val cents = init.map(_.getSeq[Double](1).toArray)
    val counts = Array.fill(init.length)(0L)
    var ep = 0
    while (ep < epochs) {
      val batch = corpus.sample(withReplacement = false, fraction, seed + ep)
      val stats = batchStats(
        Similarity.assignToCentroidLiterals(batch, cellLit, cents), dim).collect()
      val batchN = Array.fill(init.length)(0L)
      stats.foreach { r =>
        val j = cellIdx(r.get(0))
        val b = r.getLong(1)
        val sums = r.getSeq[Double](2)
        var pos = 0
        while (pos < dim) {
          cents(j)(pos) = (counts(j) * cents(j)(pos) + sums(pos)) / (counts(j) + b)
          pos += 1
        }
        batchN(j) = b
      }
      var j = 0
      while (j < counts.length) { counts(j) += batchN(j); j += 1 }
      ep += 1
    }
    corpus.unpersist(blocking = false)
    Similarity.assignToCentroidLiterals(e, cellLit, cents)
      .withColumnRenamed("cell", "cluster")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One row per cell of a batch assignment → (cell, n, s): the batch
    * count and the per-dimension batch sums, after ONE map-side partial
    * `VectorAgg` — the same sums, in the same row order, as `dim`
    * separate `sum(element_at(e, i))` aggregates, from one aggregate
    * instead of `dim`. The posexplode form before those fanned the
    * batch out ×dim and shuffled (cell, pos) rows.
    */
  private[operators] def batchStats(assigned: DataFrame, dim: Int): DataFrame =
    assigned.groupBy("cell")
      .agg(count(lit(1)).as("n"), vectorSum(col("embedding"), dim).as("s"))

  /** Quantized mean of the assignment's `cc` column: per-member cosine
    * snapped to exact 1e-6-unit longs, summed order-independently,
    * mean rounded once at 4 dp — ONE definition of the discipline for
    * every caller (km01, km02, clusterMetrics), so a future change to
    * the rounding cannot drift between them.
    */
  private def meanCos: org.apache.spark.sql.Column =
    round(sum(round(col("cc") * 1e6, 0).cast("long")) / (count(lit(1)) * 1e2), 0)
      .cast("long") / 1e4

  /** km02 adapter: cluster sizes + mean in-cluster cosine after 3
    * mini-batch epochs at 30% sampling (rows-only: sampled FP
    * iteration has no SQL oracle).
    */
  def km02(s: SparkSession, dir: String): DataFrame =
    fitMiniBatch(Tables.embeddings(s, dir), epochs = 3, fraction = 0.3)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), meanCos.as("mean_cos"))
      .orderBy("cluster")

  /** km01 adapter: cluster sizes + rounded mean in-cluster cosine
    * after 3 iterations (rows-only: iterative FP has no SQL oracle).
    */
  def km01(s: SparkSession, dir: String): DataFrame =
    fit(Tables.embeddings(s, dir), 3)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), meanCos.as("mean_cos"))
      .orderBy("cluster")

  /** km05: clustering quality metrics over a fitted assignment — the
    * numbers read before trusting cluster labels downstream (sampling
    * caps, SemDeDup cells, recap grouping): per-cluster COHESION (mean
    * and min cosine of members to their own centroid — the spherical
    * analogue of within-cluster scatter) and SEPARATION (cosine of the
    * centroid to its nearest OTHER centroid — the Davies–Bouldin-style
    * between-cluster term; lower = better separated). `separation` =
    * mean_cc − nn_cos: positive means members sit closer to their own
    * centroid than the nearest rival centroid does.
    *
    * Scale: cohesion re-aggregates the already-computed per-member cc
    * (one map-side-combined pass over the assignment); the
    * centroid×centroid table is k² rows of driver-size k — broadcast
    * arithmetic, never a corpus join.
    */
  def clusterMetrics(assigned: DataFrame): DataFrame = {
    val cohesion = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
           meanCos.as("mean_cc"),
           (microRound(min("cc"), 4)).as("min_cc"))
    val cents = Similarity.centroidsFor(assigned, "cluster")
    val cc = cents.select(col("cell").as("cluster"), col("centroid").as("c_a"))
      .join(broadcast(cents.select(col("cell").as("other"), col("centroid").as("c_b"))),
            col("cluster") =!= col("other"))
      .withColumn("cos", graft.functions.VectorFunctions.cosineSim(col("c_a"), col("c_b")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("cos").desc, col("other").asc)
    val nearest = cc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cluster"), col("other").as("nn_cluster"),
              (microRound(col("cos"), 4)).as("nn_cos"))
    cohesion.join(nearest, Seq("cluster"), "left")
      .withColumn("separation", microRound((col("mean_cc") - col("nn_cos")), 4))
      .orderBy("cluster")
  }

  /** km06: EXTERNAL clustering agreement metrics — the fitted
    * assignment judged against ground-truth labels (recap-evaluator's
    * cluster_evaluator.py scores every clustering run with sklearn's
    * NMI / ARI / homogeneity-completeness-V when ground truth exists;
    * km05 covers its internal-quality metrics). Everything derives
    * from the (cluster, label) CONTINGENCY TABLE, so the corpus-scale
    * work is exactly ONE map-side-combined groupBy — the k×L frame
    * and both marginals are driver-bounded, and every entropy /
    * pair-count term is arithmetic over those bounded frames (the
    * same shape at 10⁹ points as at 10³: contingency counts are
    * mergeable).
    *
    * Conventions match sklearn: NMI with the arithmetic mean
    * normalizer; homogeneity/completeness return 1 when the
    * conditioning entropy is 0 (single-label / single-cluster
    * degenerate cases); ARI returns 1 when max_index equals
    * expected_index. Natural-log entropies; outputs rounded to 4 dp
    * (rows-only — iterative-fit inputs have no SQL oracle; a spec
    * pins exact values on planted partitions).
    */
  def externalClusterMetrics(assign: DataFrame): DataFrame = {
    val cont = assign.groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val aM = cont.groupBy("cluster").agg(sum("n").as("a"))
    val bM = cont.groupBy("label").agg(sum("n").as("b"))
    val totals = cont.agg(sum("n").as("nn"),
      countDistinct("cluster").as("n_clusters"), countDistinct("label").as("n_labels"))
    // joint terms on the k×L frame. Count products (n·nn, a·b,
    // n·(n−1)) wrap silently in long arithmetic past ~3e9 points, so
    // the MI log runs as log(n)+log(nn)−log(a)−log(b) and every
    // pair-count Σ n·(n−1) accumulates in decimal(38,0) (the tx32/ev14
    // discipline); the exact decimal sums drop to double only for the
    // final ratio, where 53-bit relative error is harmless at 4 dp.
    val comb2 = (c: Column) => sum(c.cast("decimal(38,0)") * (c - 1))
    val joint = cont.join(aM, "cluster").join(bM, "label").crossJoin(broadcast(totals))
      .agg(
        sum(col("n") / col("nn") *
            (log(col("n")) + log(col("nn")) - log(col("a")) - log(col("b"))))
          .as("mi"),
        sum(col("n") / col("nn") * -log(col("n") / col("a"))).as("h_l_given_c"),
        sum(col("n") / col("nn") * -log(col("n") / col("b"))).as("h_c_given_l"),
        (comb2(col("n")).cast("double") / 2).as("sum_comb"))
    val hk = aM.crossJoin(broadcast(totals))
      .agg(sum(col("a") / col("nn") * -log(col("a") / col("nn"))).as("h_k"),
           (comb2(col("a")).cast("double") / 2).as("a_comb"))
    val hl = bM.crossJoin(broadcast(totals))
      .agg(sum(col("b") / col("nn") * -log(col("b") / col("nn"))).as("h_l"),
           (comb2(col("b")).cast("double") / 2).as("b_comb"))
    val r4 = (c: Column) => microRound(c, 4)
    val out = joint.crossJoin(broadcast(hk)).crossJoin(broadcast(hl)).crossJoin(broadcast(totals))
      .withColumn("expected",
        col("a_comb") * col("b_comb") /
          (col("nn").cast("double") * (col("nn").cast("double") - 1) / 2))
      .withColumn("max_index", (col("a_comb") + col("b_comb")) / 2)
      .withColumn("homogeneity",
        when(col("h_l") === 0, 1.0).otherwise(lit(1.0) - col("h_l_given_c") / col("h_l")))
      .withColumn("completeness",
        when(col("h_k") === 0, 1.0).otherwise(lit(1.0) - col("h_c_given_l") / col("h_k")))
      .select(
        col("nn").as("n_points"), col("n_clusters"), col("n_labels"),
        r4(when(col("h_k") + col("h_l") === 0, 1.0)
          .otherwise(col("mi") / ((col("h_k") + col("h_l")) / 2))).as("nmi"),
        r4(when(col("max_index") === col("expected"), 1.0)
          .otherwise((col("sum_comb") - col("expected")) /
                     (col("max_index") - col("expected")))).as("ari"),
        r4(col("homogeneity")).as("homogeneity"),
        r4(col("completeness")).as("completeness"),
        r4(when(col("homogeneity") + col("completeness") === 0, 0.0)
          .otherwise(lit(2.0) * col("homogeneity") * col("completeness") /
                     (col("homogeneity") + col("completeness")))).as("v_measure"))
    val rows = out.collect()
    cont.unpersist()
    assign.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** km06 adapter: the km01 fit judged against the embeddings table's
    * label column as ground truth (rows-only).
    */
  def km06(s: SparkSession, dir: String): DataFrame = {
    val fitted = fit(Tables.embeddings(s, dir), 3)
    val withTruth = fitted.select("vec_id", "cluster")
      .join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")), "vec_id")
    val m = externalClusterMetrics(withTruth)
    fitted.unpersist()
    m
  }

  /** km05 adapter: metrics of the km01 fit — k rows, materialized so
    * the fitted assignment cache releases (rows-only).
    */
  def km05(s: SparkSession, dir: String): DataFrame = {
    val fitted = fit(Tables.embeddings(s, dir), 3)
    val m = clusterMetrics(fitted)
    val rows = m.collect()
    fitted.unpersist()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), m.schema)
  }
}
