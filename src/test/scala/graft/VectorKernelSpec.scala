package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{centroidCosines, cosineSim, nearestCentroid, vectorMean, vectorSum}

/** The centroid kernels (NearestCentroid, CentroidCosines) and the
  * per-dimension aggregate (VectorAgg) against the expression forms
  * they replaced, which are kept here as the references: a ladder of
  * literal cosines with `array_max`/`array_position`, and `dim`
  * separate `avg`/`sum(element_at(...))` aggregates.
  *
  * Inputs go through a repartition so the kernels run in executor
  * stages; a projection straight over a local Seq is folded on the
  * driver by the optimizer and never reaches generated code.
  */
class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  private val cents: Array[Array[Double]] = Array(
    Array(1.0, 0.0, 0.0, 0.5),
    Array(0.2, 0.9, -0.1, 0.0),
    Array(-0.5, 0.3, 0.8, 0.1),
    Array(0.2, 0.9, -0.1, 0.0), // exact duplicate of centroid 1
    Array(0.0, 0.0, 0.0, 0.0)) // zero centroid: its cosine is always null

  private def embeddings: DataFrame = {
    val rnd = new scala.util.Random(5)
    val random = (0 until 200).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
    val edge = Seq(
      (1000L, Array(0.2f, 0.9f, -0.1f, 0.0f)), // ties the duplicates: centroid 1 must win
      (1001L, Array(0f, 0f, 0f, 0f)), // zero vector: no cosine defined
      (1002L, null: Array[Float]), // null embedding
      (1003L, Array(0.3f, Float.NaN, 0.1f, 0.2f)), // NaN element: NaN ranks greatest
      (1004L, Array(0.7f, -0.2f)), // shorter than the centroids
      (1005L, Array(0.1f, 0.4f, 0.4f, -0.3f, 0.9f, 0.2f))) // longer
    (random ++ edge).toDF("vec_id", "embedding").repartition(3)
  }

  /** The replaced form: k literal cosines, first position of the max. */
  private def ladder(e: Column): Column = {
    val ccs = array(cents.map(c => cosineSim(e, typedlit(c.toList))): _*)
    val pos = array_position(ccs, array_max(ccs))
    struct((pos - 1).cast("int").as("idx"), element_at(ccs, pos.cast("int")).as("cc"))
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) => x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private def withoutCodegen[T](f: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  private def nearest(): Map[Long, (Row, Row)] =
    embeddings.select(col("vec_id"),
        nearestCentroid(col("embedding"), cents).as("got"), ladder(col("embedding")).as("ref"))
      .collect().map(r => r.getLong(0) -> (r.getStruct(1), r.getStruct(2))).toMap

  test("NearestCentroid equals the literal-cosine ladder, edge rows included") {
    val got = nearest()
    assert(got.size == 206)
    got.foreach { case (id, (k, ref)) =>
      // the ladder yields a struct of nulls where the kernel yields null
      if (k == null) assert(ref.isNullAt(0) && ref.isNullAt(1), s"vec_id=$id: $ref")
      else assert(same(k, ref), s"vec_id=$id: kernel $k vs ladder $ref")
    }
    assert(got(1000L)._1.getInt(0) == 1, "a tie must resolve to the smallest centroid")
    assert(got(1001L)._1 == null && got(1002L)._1 == null)
    assert(got(1003L)._1.getInt(0) == 0 && got(1003L)._1.getDouble(1).isNaN)
  }

  test("CentroidCosines equals the array of literal cosines") {
    val rows = embeddings.select(col("vec_id"), centroidCosines(col("embedding"), cents),
        array(cents.map(c => cosineSim(col("embedding"), typedlit(c.toList))): _*))
      .collect()
    assert(rows.length == 206)
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.getSeq[Any](2).forall(_ == null), s"vec_id=${r.get(0)}")
      else assert(same(r.getSeq[Any](1), r.getSeq[Any](2)), s"vec_id=${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("centroid kernels: codegen and NO_CODEGEN give identical values") {
    def both() = embeddings.select(col("vec_id"), nearestCentroid(col("embedding"), cents),
        centroidCosines(col("embedding"), cents))
      .collect().map(r => r.getLong(0) -> r).toMap
    val gen = both()
    val interp = withoutCodegen(both())
    assert(gen.keySet == interp.keySet)
    gen.foreach { case (id, r) => assert(same(r, interp(id)), s"vec_id=$id: $r vs ${interp(id)}") }
  }

  private val dim = 4

  /** Groups with null elements, null rows, and a dimension that is
    * null in every row of group 2.
    */
  private def withNulls: DataFrame = {
    val rnd = new scala.util.Random(9)
    def v(): Option[Float] = if (rnd.nextInt(5) == 0) None else Some(rnd.nextFloat() * 2 - 1)
    val rows = (0 until 300).map { i =>
      val g = i % 3
      val arr = if (i % 17 == 0) null else Seq.tabulate(dim)(d => if (g == 2 && d == 3) None else v())
      (g, arr)
    }
    rows.toDF("g", "embedding")
  }

  private def vectorAggs(e: DataFrame): Map[Int, (Seq[Any], Seq[Any])] =
    e.groupBy("g").agg(vectorMean(col("embedding"), dim), vectorSum(col("embedding"), dim))
      .collect().map(r => r.getInt(0) -> (r.getSeq[Any](1), r.getSeq[Any](2))).toMap

  private def perDimRefs(e: DataFrame): Map[Int, (Seq[Any], Seq[Any])] = {
    def elem(i: Int) = element_at(col("embedding"), i).cast("double")
    e.groupBy("g").agg(array((1 to dim).map(i => avg(elem(i))): _*),
        array((1 to dim).map(i => sum(elem(i))): _*))
      .collect().map(r => r.getInt(0) -> (r.getSeq[Any](1), r.getSeq[Any](2))).toMap
  }

  test("VectorAgg equals the per-dimension avg/sum aggregates on null elements and a repartition(4) input") {
    val e = withNulls.repartition(4)
    val got = vectorAggs(e)
    val ref = perDimRefs(e)
    assert(got.keySet == Set(0, 1, 2) && got.keySet == ref.keySet)
    for ((g, (gm, gs)) <- got; (want, have) <- Seq(ref(g)._1 -> gm, ref(g)._2 -> gs)) {
      assert(have.length == dim)
      have.zip(want).zipWithIndex.foreach {
        case ((null, null), _) =>
        case ((a: Double, b: Double), d) =>
          // identical summands; only the partial-merge order may differ
          assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)), s"g=$g dim=$d: $a vs $b")
        case (pair, d) => fail(s"g=$g dim=$d: null mismatch $pair")
      }
    }
    assert(got(2)._1(3) == null && got(2)._2(3) == null, "an all-null dimension must stay null")
  }

  test("VectorAgg: codegen and NO_CODEGEN give identical values") {
    val e = withNulls.repartition(1)
    val gen = vectorAggs(e)
    val interp = withoutCodegen(vectorAggs(e))
    assert(gen.keySet == interp.keySet)
    gen.foreach { case (g, (m, s)) =>
      assert(same(m, interp(g)._1) && same(s, interp(g)._2), s"g=$g")
    }
  }
}
