package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Dev tool: stage-level timing of the similarity family's members so
  * optimization targets the real cost (plan/codegen/job overhead vs
  * data). Bench-identical session confs.
  */
object ProfileSim {
  def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[prof] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.embeddings(spark, sfDir)
    t("warmup: corpus count")(e.count())
    t("control q01")(noop(graft.SparkEntry.queries("q01_pricing_summary")(spark, sfDir)))

    // ---- sim08 stages ----
    (1 to 2).foreach { round =>
      println(s"--- sim08 round $round ---")
      val m = 8; val sub = 64 / m
      val dim = t("sim08: dim head()")(e.select(size(col("embedding"))).head().getInt(0))
      val unit = e
        .withColumn("n", sqrt(aggregate(transform(col("embedding"), v => v * v),
          lit(0.0d), (acc, x) => acc + x)))
        .select(col("vec_id"),
          transform(col("embedding"), v => v / greatest(col("n"), lit(1e-12))).as("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sample = t("sim08: sample collect")(
        unit.orderBy(pmod(hash(col("vec_id")), lit(1000003)).asc, col("vec_id").asc)
          .limit(2048).collect().map(_.getSeq[Double](1).toArray))
      val codebooks = t("sim08: driver kmeans")(Array.tabulate(m) { s =>
        val subvecs = sample.map(v => v.slice(s * sub, (s + 1) * sub))
        Similarity.kmeansOnDriver(subvecs, 16, iters = 8, seed = 7 + s)
      })
      def code(s: Int) = {
        val subv = slice(col("u"), s * sub + 1, sub)
        val dists = array(codebooks(s).map { cw =>
          aggregate(zip_with(subv, typedlit(cw.toSeq), (a, b) => (a - b) * (a - b)),
            lit(0.0d), (acc, x) => acc + x)
        }: _*)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }
      val coded = unit.withColumn("codes", array((0 until m).map(code): _*))
        .select("vec_id", "codes")
      t("sim08: encode noop")(noop(coded))
      val lut = {
        val terms = (0 until m).flatMap { s =>
          val subv = slice(col("u"), s * sub + 1, sub)
          codebooks(s).map { cw =>
            aggregate(zip_with(subv, typedlit(cw.toSeq), (a, b) => a * b),
              lit(0.0d), (acc, x) => acc + x)
          }
        }
        array(terms: _*)
      }
      val queries = unit.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), lut.as("lut"))
      val k16 = 16
      val score = (0 until m).map { s =>
        element_at(col("lut"), element_at(col("codes"), s + 1) + lit(s * k16) + 1)
      }.reduce(_ + _)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id").orderBy(col("pq_score").desc, col("neighbor_id").asc)
      val result = coded.select(col("vec_id").as("neighbor_id"), col("codes"))
        .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
        .withColumn("pq_score", graft.functions.Numeric.microRound(score, 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 50)
        .select("query_id", "neighbor_id", "pq_score", "rank")
      t("sim08: score+window collect")(result.collect())
      unit.unpersist()
      spark.catalog.clearCache()
    }

    // ---- sim06 stages ----
    (1 to 2).foreach { round =>
      println(s"--- sim06 round $round ---")
      val v = e.select("vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = t("sim06: count")(v.count())
      val cells = math.ceil(math.sqrt(n.toDouble)).toInt
      // trainCentroids inlined with per-step timers
      val seeds = t("sim06: seeds collect")(
        v.orderBy(pmod(hash(col("vec_id")), lit(1000003)).asc, col("vec_id").asc)
          .limit(cells).collect())
      var cents: Array[Array[Double]] = seeds.map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
      val cellLit = typedlit((0 until cells).toList)
      (0 until 2).foreach { i =>
        val assigned = Similarity.assignToCentroidLiterals(v, cellLit, cents)
        val updated = t(s"sim06: iter $i centroidsFor+collect")(
          Similarity.centroidsFor(assigned, "cell").collect()
            .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap)
        cents = cents.indices.map(c => updated.getOrElse(c, cents(c))).toArray
      }
      val assignedF = Similarity.assignToCentroidLiterals(v, cellLit, cents)
        .select("vec_id", "embedding", "cell")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("sim06: final assign noop")(noop(assignedF))
      t("sim06: full query")(noop(graft.SparkEntry.queries("sim06_ivf_kmeans")(spark, sfDir)))
      spark.catalog.clearCache()
    }

    // ---- sim11 stages ----
    (1 to 2).foreach { round =>
      println(s"--- sim11 round $round ---")
      val b = t("sim11: binarize plan+head") {
        Similarity.binarize(e)
      }
      t("sim11: binarize noop")(noop(b.select("vec_id", "bcode")))
      t("sim11: full")(noop(graft.SparkEntry.queries("sim11_binary_ann")(spark, sfDir)))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
