package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Value pins for the Similarity/KMeans kernel rewrites: the
  * aggregates and unrolled codegen forms the operators run must compute
  * the same numbers as the straightforward posexplode / HOF references
  * they replaced, and the edge behaviors the rewrites changed are
  * pinned explicitly.
  */
class Round17KernelSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)

  test("centroidsFor's per-dim avg matches the posexplode reference (same math, one shuffle)") {
    val e = emb.withColumn("cell", (col("vec_id") % 7).cast("int"))
    val dim = Similarity.dimOf(e)
    val fast = Similarity.centroidsFor(e, "cell", dim)
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
    // the pre-cb83ec4 shape: fan out ×dim, avg per (cell, pos),
    // reassemble the array by position
    val ref = e.select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg(avg(col("v").cast("double")).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
    assert(fast.keySet == ref.keySet)
    for (cell <- fast.keySet; i <- 0 until dim) {
      val (a, b) = (fast(cell)(i), ref(cell)(i))
      // identical summands; only the partial-merge order may differ
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)),
        s"centroid diverged at cell=$cell dim=$i: $a vs $b")
    }
  }

  test("the mini-batch per-dim sums match the posexplode reference") {
    val e = emb.withColumn("cell", (col("vec_id") % 5).cast("int"))
    val dim = Similarity.dimOf(e)
    val fast = KMeans.batchStats(e, dim)
      .collect().map(r => r.get(0) -> r.getSeq[Double](2)).toMap
    val ref = e.select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg(sum(col("v").cast("double")).as("s"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("sums"))
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
    assert(fast.keySet == ref.keySet)
    for (cell <- fast.keySet; i <- 0 until dim) {
      val (a, b) = (fast(cell)(i), ref(cell)(i))
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)),
        s"sum diverged at cell=$cell dim=$i: $a vs $b")
    }
  }

  test("dimOf throws on an empty corpus (pinned: callers must feed at least one row)") {
    // pre-cb83ec4 the posexplode centroid path returned an empty frame
    // for an empty corpus; the literal-kernel rewrite probes the width
    // up front and fails fast instead. No declared query feeds an
    // empty corpus; this pins the (intentional) new edge behavior.
    intercept[Exception] { Similarity.dimOf(emb.filter(lit(false))) }
  }

  test("binarizeWithDim's unrolled OR chain equals the per-bit sign reference") {
    val dim = Similarity.dimOf(emb)
    val words = (dim + 63) / 64
    val got = Similarity.binarizeWithDim(emb, dim)
      .select(col("vec_id"), col("bcode"), col("embedding"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val v = r.getSeq[Float](2)
      val expect = (0 until words).map { w =>
        (0 until math.min(64, dim - w * 64)).foldLeft(0L) { (acc, b) =>
          if (v(w * 64 + b) > 0) acc | (1L << b) else acc
        }
      }
      assert(r.getSeq[Long](1) == expect, s"bcode diverged for vec_id=${r.get(0)}")
    }
  }

  test("sim11's internal candidate stage is the bounded-heap aggregate over the persisted codes — no corpus-sized window") {
    // the declared query materializes at construction, so the shape
    // pin moved here (from PlanSpec) onto the internal lazy pipeline:
    // Hamming candidates must come from graft_top_by (map-side bounded
    // heaps), never a window sort of the |corpus|×|queries| frame
    val e = emb
    val dim = Similarity.dimOf(e)
    val words = (dim + 63) / 64
    val b = Similarity.binarizeWithDim(e, dim)
    val queries = b.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("bcode").as("q_code"))
    val corpus = b.select(col("vec_id").as("neighbor_id"), col("bcode").as("c_code"))
    val ham = (1 to words).map(w =>
        bit_count(element_at(col("q_code"), w).bitwiseXOR(element_at(col("c_code"), w)))
          .cast("int")).foldLeft(lit(0))(_ + _)
    val cand = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", ham)
      .groupBy("query_id")
      .agg(graft.functions.TopKByAgg.topKBy(
        -col("hamming").cast("double"), col("neighbor_id").cast("long"), 50).as("topk"))
    cand.collect() // finalize the adaptive plan
    val nodes = {
      def all(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] =
        (p +: p.children.flatMap(all)) ++ (p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => all(q.plan)
          case _ => Seq.empty
        })
      cand.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          all(a.executedPlan)
        case p => all(p)
      }
    }
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "candidate stage must not window-sort the corpus")
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]),
      "expected the graft_top_by bounded-heap aggregate")
  }

  test("weightedPagerank's driver small-graph path equals the distributed path") {
    import spark.implicits._
    // weighted digraph with a dangling-free symmetric core plus an
    // asymmetric appendix — exercises shares, teleport and zero-contrib
    val edges = Seq(
      (1L, 2L, 3.0), (2L, 1L, 3.0), (2L, 3L, 1.0), (3L, 2L, 1.0),
      (1L, 3L, 2.0), (3L, 1L, 2.0), (4L, 1L, 5.0), (1L, 4L, 1.0),
      (5L, 3L, 7.0), (3L, 5L, 7.0)).toDF("src", "dst", "w")
    val fast = Graph.weightedPagerank(edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = Graph.weightedPagerank(edges, smallGraphMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet == dist.keySet)
    fast.keySet.foreach { n =>
      assert(math.abs(fast(n) - dist(n)) <= 1e-12,
        s"rank diverged at node $n: ${fast(n)} vs ${dist(n)}")
    }
  }

  test("PQ's unrolled unit-normalization matches the float-then-widen scalar reference") {
    val dim = Similarity.dimOf(emb)
    val sqSum = (1 to dim).map(i =>
        element_at(col("embedding"), i) * element_at(col("embedding"), i))
      .foldLeft(lit(0.0d))(_ + _)
    val got = emb.withColumn("n", sqrt(sqSum))
      .select(col("vec_id"), col("embedding"),
        array((1 to dim).map(i =>
          element_at(col("embedding"), i) / greatest(col("n"), lit(1e-12))): _*).as("u"))
      .limit(200).collect()
    got.foreach { r =>
      val v = r.getSeq[Float](1)
      // float multiply rounds to float BEFORE widening to double —
      // exactly the fold the unrolled expression performs
      val n = math.sqrt(v.foldLeft(0.0d)((acc, x) => acc + (x * x).toDouble))
      val expect = v.map(x => x / math.max(n, 1e-12))
      val u = r.getSeq[Double](2)
      (u, expect).zipped.foreach((a, b) =>
        assert(a == b, s"unit vector diverged for vec_id=${r.get(0)}: $a vs $b"))
    }
  }
}
