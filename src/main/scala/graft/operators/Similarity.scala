package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Numeric.{microRatio, microRound}
import graft.functions.VectorFunctions.{centroidCosines, cosineSim, nearestCentroid, vectorMean}

/** Vector similarity / ANN operators over the `embeddings` table.
  *
  * Mirrors the reference's RAG retrieval (knowledge-augur grounds Q&A in
  * cosine top-k over article embeddings produced by knowledge-embedder)
  * and the k-means step of recap-worker
  * (recap-worker/recap-worker/src/util/kmeans.rs).
  *
  * Scale notes: the query set is broadcast against the (large) corpus so
  * brute-force kNN is a single scan with no shuffle of the corpus side;
  * per-query top-k is a window over query_id (cardinality = #queries,
  * bounded). The IVF variant is the 100 TB path: vectors are assigned to
  * a broadcast centroid table once, and searches only touch matching
  * cells — a co-partitioned equi-join on cell id instead of a cross
  * product. Cosine is the native codegen'd `CosineSimilarity` expression.
  */
object Similarity {

  /** Brute-force cosine top-k over any (vec_id, embedding) corpus — the
    * exact baseline every ANN variant is measured against.
    *
    * Ranking is the bounded-heap `graft_top_by` aggregate (TopKByAgg),
    * not a row_number window: the window formulation shuffles and sorts
    * the FULL |corpus|×|queries| scored frame on query_id, while the
    * aggregate keeps a k-entry buffer per query that combines map-side —
    * only ≤k entries per (query, partition) ever shuffle. Tie-break is
    * identical by construction (value desc, id asc — TopKByAgg's
    * contract matches the old `orderBy(cos desc, neighbor_id asc)`), so
    * the output is row-for-row the window answer; a spec pins parity.
    */
  def knnBruteOn(e: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    import graft.functions.TopKByAgg.topKBy
    val queries = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", microRound(cosineSim(col("q_emb"), col("c_emb")), 6))
    scored.groupBy("query_id")
      .agg(topKBy(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("query_id"),
        col("entry.id").as("neighbor_id"),
        col("entry.value").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** sim01 adapter: queries are vec_id % 50 == 0. */
  def knnBrute(s: SparkSession, dir: String): DataFrame =
    knnBruteOn(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)

  /** Elementwise-mean centroid per value of `cellCol` → (cell,
    * centroid: array<double>). Shared by IVF, k-means, and the
    * centroid-summary query — fix the math once, every caller follows.
    *
    * ONE map-side-combined `VectorAgg` (per-dimension double sums and
    * non-null counts, mean = sum / count): the same values in the same
    * row order as `dim` separate `avg(element_at(e, i))` aggregates,
    * so the centroid doubles are unchanged. At dim 64 those aggregates
    * held 128 buffer fields, over `spark.sql.codegen.maxFields` (100),
    * so the aggregation fell out of whole-stage codegen; the posexplode
    * form before them fanned the corpus out ×dim and paid a second
    * shuffle. Callers that already know `dim` pass it (seeds/encode
    * paths); the 2-arg form probes one row.
    */
  private[operators] def centroidsFor(e: DataFrame, cellCol: String, dim: Int): DataFrame =
    e.groupBy(col(cellCol).as("cell"))
      .agg(vectorMean(col("embedding"), dim).as("centroid"))

  private[operators] def centroidsFor(e: DataFrame, cellCol: String): DataFrame =
    centroidsFor(e, cellCol, dimOf(e))

  /** Embedding width probed from one row — the plan-time width of the
    * per-dimension aggregates and of the unrolled PQ/binary kernels.
    */
  private[operators] def dimOf(e: DataFrame): Int =
    e.select(size(col("embedding"))).head().getInt(0)

  /** Assign each vector to its nearest centroid (argmax cosine,
    * cell-asc tie-break) → (vec_id, embedding, cell, cc).
    *
    * The centroid table is tiny (≤ k rows × dim) so it is collected to
    * the driver and held in the plan as a double[k][dim] matrix — the
    * per-row argmax is then ONE projection over the corpus: the
    * `NearestCentroid` kernel computes the row norm once and one dot
    * product per centroid. No join, no window, no shuffle, and the
    * corpus never fans out ×k — the same driver-side-centroids shape
    * MLlib's k-means uses, which is what survives a 100 TB corpus.
    *
    * The kernel replaced a ladder of k literal cosine expressions plus
    * `array_max`/`array_position`. At k = 32, dim = 64 that ladder made
    * the stage's `processNext()` 9,724 bytecode bytes, over HotSpot's
    * 8,000-byte limit, so the JIT never compiled it: a 1000-row assign
    * pass took 181 ms with whole-stage codegen and 40 ms with it off;
    * the kernel takes 41 ms (medians of 15 passes, 4-vCPU VM).
    *
    * Tie-break: centroids are scanned in ascending-cell order and the
    * FIRST maximum wins, so equal scores resolve to the smallest cell —
    * identical to the old `orderBy(cc desc, cell asc)` window.
    */
  private[operators] def assignToCentroids(e: DataFrame, centroids: DataFrame): DataFrame = {
    val (ordered, cellLit) = sortedCellsAndLit(centroids.select("cell", "centroid").collect())
    assignToCentroidLiterals(e, cellLit, ordered.map(_.getSeq[Double](1).toArray))
  }

  /** Sort a collected (cell, centroid) table ascending by cell and
    * build the matching cell-literal array — the Int/Long/String
    * dispatch shared by every literal-centroid caller.
    */
  private[operators] def sortedCellsAndLit(
      rows: Array[org.apache.spark.sql.Row]): (Array[org.apache.spark.sql.Row], Column) = {
    require(rows.nonEmpty, "empty centroid table")
    rows(0).get(0) match {
      case _: Int =>
        val o = rows.sortBy(_.getInt(0)); (o, typedlit(o.map(_.getInt(0)).toSeq))
      case _: Long =>
        val o = rows.sortBy(_.getLong(0)); (o, typedlit(o.map(_.getLong(0)).toSeq))
      case _: String =>
        val o = rows.sortBy(_.getString(0)); (o, typedlit(o.map(_.getString(0)).toSeq))
      case other => throw new IllegalArgumentException(
        s"unsupported centroid cell type ${other.getClass}")
    }
  }

  /** The driver-side-centroid core of the assignment: callers that
    * already hold the centroids (mini-batch k-means keeps them as
    * mutable driver state between batches) skip the collect. `cents(i)`
    * is the centroid of `cellLit`'s i-th cell; the plan keeps its own
    * copy, so later updates to `cents` do not reach it.
    */
  private[operators] def assignToCentroidLiterals(
      e: DataFrame, cellLit: Column, cents: Array[Array[Double]]): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        nearestCentroid(col("embedding"), cents.map(_.clone)).as("nc"))
      .select(col("vec_id"), col("embedding"),
        element_at(cellLit, col("nc.idx") + 1).as("cell"), col("nc.cc").as("cc"))

  /** Train `cells` centroids with `iters` Lloyd rounds from hash-seeded
    * deterministic starts — the IVF training loop shared by sim06 and
    * sim09. Cell c is index c; cells that capture no vectors keep
    * their previous centroid. Each round is one cache scan + one
    * bounded (cells × dim) aggregation; only cells × dim numbers ever
    * reach the driver.
    */
  private[operators] def trainCentroids(
      v: DataFrame, cells: Int, iters: Int): Array[Array[Double]] = {
    val seeds = v.orderBy(pmod(hash(col("vec_id")), lit(1000003)).asc, col("vec_id").asc)
      .limit(cells).collect()
    var cents: Array[Array[Double]] = seeds.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val cellLit = typedlit((0 until cells).toList)
    val dim = cents.head.length
    var i = 0
    while (i < iters) {
      val assigned = assignToCentroidLiterals(v, cellLit, cents)
      val updated = centroidsFor(assigned, "cell", dim).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.indices.map(c => updated.getOrElse(c, cents(c))).toArray
      i += 1
    }
    cents
  }

  /** sim02: per-label centroid (one k-means assignment step's "update"
    * half) — elementwise mean via posexplode, centroid norm as the
    * oracle-checkable scalar summary.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    // Exact integer pipeline: components quantize to 1e6-unit longs per
    // element, per-dim sums are exact longs, squared sums accumulate in
    // decimal(38,0) (order-independent), and the norm does ONE sqrt +
    // scale-0 round — norm = sqrt(Σ_d S_d²)/(n·1e6), with no
    // engine-order-dependent double avg anywhere.
    Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v_u", round(col("v").cast("double") * 1e6, 0).cast("long"))
      .groupBy("label", "pos")
      .agg(sum("v_u").as("s_u"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg((round(sqrt(sum((col("s_u").cast("decimal(38,0)") * col("s_u"))).cast("double"))
        / max("n"), 0).cast("long") / 1e6).as("centroid_norm"))

  /** sim03: embedding-cosine near-dup pairs, blocked by label.
    *
    * EXACT oracle-parity baseline: the label constraint is part of the
    * query's semantics (pairs within a label), and with ~10 labels the
    * Σ block² cost is still O(n²/10) — this is the reference answer the
    * sketch path is measured against, not the plan to run at 100 TB.
    * The designated scale path is `rpNearDupOn` (sim05): RP-LSH bands →
    * candidate equi-join → exact cosine verify, where the per-band
    * block count (≤ 2^r) grows with the knob r instead of being pinned
    * at |labels|.
    */
  def cosineNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, "label")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", microRound(cosineSim(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= 0.3)
      .select("label", "vec_a", "vec_b", "cos")
  }

  /** Embedding near-dup pairs via random-hyperplane LSH: per-row band
    * sketch (no shuffle) → candidate pairs from one equi-join on the
    * band value → exact cosine ≥ `threshold` verified on candidates
    * only. The 100 TB shape for high-threshold near-dup mining: at
    * τ ≥ 0.9 a pair agrees per hyperplane with p ≈ 0.86, so r = 16
    * bands of ~N/65536-sized buckets still catch ≥ 93% per 32 bands,
    * while Σ block² collapses. At LOW thresholds (τ ≤ 0.5) no LSH
    * beats all-pairs — angles near 90° randomize the bits; that is a
    * property of the problem, not the plan (use the exact baseline and
    * a stronger blocking semantic instead).
    */
  def rpNearDupOn(e: DataFrame, threshold: Double,
                  bands: Int = 16, rowsPerBand: Int = 8): DataFrame = {
    // caches the (vec_id, embedding) projection internally and cannot
    // release it (the result is lazy); fine under Verify/Bench which
    // clearCache between queries — long-lived sessions should persist
    // their own projection and call rpNearDupPairsOn instead
    val v = e.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rpNearDupPairsOn(v, threshold, bands, rowsPerBand)
  }

  /** Core of rpNearDupOn over a caller-managed (vec_id, embedding)
    * frame: the caller persists `v` (it is referenced three times —
    * banding plus both verify joins) and owns its unpersist.
    */
  def rpNearDupPairsOn(v: DataFrame, threshold: Double,
                       bands: Int = 16, rowsPerBand: Int = 8): DataFrame = {
    import graft.functions.HashFunctions.rpSignBands
    val banded = v.select(col("vec_id"),
        explode(rpSignBands(col("embedding"), bands, rowsPerBand)).as("band"))
    val cand = banded.select(col("band"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("vec_id").as("vec_b")), "band")
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .withColumn("cos", microRound(cosineSim(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** sim05 adapter: RP-banded near-dup over the test corpus. The test
    * embeddings are random — they have no real near-dup structure, so
    * any τ with nonzero matches sits in the borderline regime where
    * banding recall is partial by design (r = 6 here: 64 buckets/band,
    * ~4× less candidate volume than all-pairs, ~half the τ = 0.3
    * borderline pairs emitted, every emitted pair exact). The
    * full-recall regime LSH exists for — planted near-dups at τ ≥ 0.9 —
    * is pinned by the spec, which matches brute force exactly.
    */
  def rpNearDup(s: SparkSession, dir: String): DataFrame =
    rpNearDupOn(Tables.embeddings(s, dir), threshold = 0.3, bands = 16, rowsPerBand = 6)
      .orderBy("vec_a", "vec_b")

  /** sim04: IVF-style ANN — assign every vector to its nearest label
    * centroid (broadcast), then search only within the query's cell.
    * Rows-only check (the cell assignment is not SQL-expressible in the
    * oracle); correctness of the building blocks is covered by
    * sim01/sim02 and the ScalaTest recall spec.
    */
  def ivfAnn(s: SparkSession, dir: String): DataFrame =
    ivfAnnOn(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)

  /** IVF with k-means-trained coarse cells whose COUNT grows with the
    * corpus: nCells defaults to ⌈√N⌉, so in-cell search cost stays
    * ≈ √N per query instead of degenerating to N/|labels| the way a
    * fixed label seeding does (the honest knob sim04 lacks). Seeds are
    * nCells deterministic sample vectors (hash-ordered — single
    * vectors, not cell means, so initial centroids are spread, not all
    * equal to the global mean), refined by `iters` Lloyd rounds of the
    * literal-centroid assignment; the search is the same
    * assign-then-equi-join as ivfAnnOn. Centroid count ⌈√N⌉ keeps the
    * driver-side literal table trivially small even at 10⁹ vectors
    * (~31k × dim doubles).
    */
  def ivfAnnKmeans(e: DataFrame, queryPred: Column, k: Int = 5,
                   nCells: Int = 0, iters: Int = 2, probes: Int = 1): DataFrame = {
    val v = e.select("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = if (nCells > 0) nCells else math.ceil(math.sqrt(v.count().toDouble)).toInt
    val cents = trainCentroids(v, cells, iters)
    val cellLit = typedlit((0 until cells).toList)
    val assigned = assignToCentroidLiterals(v, cellLit, cents)
      .select("vec_id", "embedding", "cell")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // multi-probe: queries search their top-`probes` cells — the
    // standard recall knob when cells subdivide natural clusters. The
    // per-query top-probes runs as array ops over the (few) query rows.
    val queries =
      if (probes == 1)
        assigned.filter(queryPred)
          .select(col("cell"), col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      else {
        val ccsArr = centroidCosines(col("embedding"), cents)
        // negated cosine + ascending sort = (cc desc, cell asc): ties
        // resolve to the SMALLEST cell, matching the probes=1 argmax
        val probeStructs = transform(sequence(lit(0), lit(cells - 1)),
          i => struct((element_at(col("ccs"), i + 1) * -1).as("ncc"), i.as("cell")))
        v.filter(queryPred)
          .withColumn("ccs", ccsArr)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            explode(slice(array_sort(probeStructs), 1, probes)).as("probe"))
          .select(col("probe.cell").as("cell"), col("query_id"), col("q_emb"))
      }
    val wTop = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    assigned.select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", microRound(cosineSim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "cell", "neighbor_id", "cos", "rank")
  }

  /** sim06 adapter: √N-cell k-means IVF over the test corpus. */
  def ivfAnnKmeansEntry(s: SparkSession, dir: String): DataFrame =
    ivfAnnKmeans(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .orderBy("query_id", "rank")

  /** Per-vector symmetric int8 quantization: q_i = round(127 · v_i /
    * max|v|). Cosine is invariant under per-vector positive scaling, so
    * quantized cosine approximates the float cosine with only rounding
    * noise (≤ ~1/254 per element) and needs NO scale bookkeeping at
    * query time. The point at 100 TB is the memory wall: a 4×-smaller
    * corpus means 4× fewer scan bytes and 4× more vectors per executor
    * before spilling — int8 is the standard serving layout (FAISS SQ8).
    * The max|v| is materialized as its own column first so the
    * quantize lambda reads a plain attribute (an inlined array_max
    * would re-run per element under interpreted HOF evaluation).
    */
  def quantize8(e: DataFrame): DataFrame =
    e.withColumn("vmax", array_max(transform(col("embedding"), v => abs(v))))
      // an all-zero vector has vmax=0; dividing by 1 instead quantizes
      // it to all zeros (cosine then nulls out, matching the float
      // path) rather than NaN — whose tinyint cast THROWS under ANSI
      .withColumn("q_emb",
        transform(col("embedding"),
          v => round(v * lit(127.0) / when(col("vmax") === 0, lit(1.0)).otherwise(col("vmax")))
            .cast("tinyint")))
      .drop("vmax")

  /** sim07: brute-force top-k over the int8-quantized corpus — the
    * quantized serving path measured against sim01's float baseline
    * (recall spec pins ≥0.9 @5). Same broadcast-queries/no-corpus-
    * shuffle plan as sim01; the cosine kernel reads bytes natively
    * (CosineSimilarity handles integral arrays — no dequantized float
    * array is ever materialized). Rows-only: DuckDB has no int8
    * array type to mirror the rounding.
    */
  def quantizedKnn(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    quantizedKnnOn(Tables.embeddings(s, dir), k)

  /** sim07 over any (vec_id, embedding) frame — the On-form sim10's
    * recall harness feeds with its shared persisted corpus.
    */
  def quantizedKnnOn(e: DataFrame, k: Int = 5): DataFrame = {
    val q8 = quantize8(e)
    val queries = q8.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("q_emb").as("q_q"))
    val corpus = q8.select(col("vec_id").as("neighbor_id"), col("q_emb").as("c_q"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", microRound(cosineSim(col("q_q"), col("c_q")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Product quantization (PQ) — the memory-wall endgame of the ANN
    * family (FAISS PQ/IVFPQ): split each unit-normalized vector into
    * `m` subvectors, k-means a 16-codeword codebook per subspace on a
    * driver-side SAMPLE (codebook training is sample-based in
    * production PQ too — the codebook is m×16×(D/m) doubles, the
    * sample a few thousand rows), then encode every corpus vector as
    * m byte codes: D floats become m bytes (16× smaller than sim07's
    * int8). Encoding is ONE projection over the corpus with the
    * codebooks baked in as literals — the same no-shuffle shape as
    * the literal-centroid k-means assignment.
    *
    * Queries score by asymmetric distance: each query precomputes its
    * dot product with every codeword (a flat m×16 lookup table on the
    * broadcast query row), and a corpus row's score is the sum of m
    * table lookups — written as an UNROLLED chain of element_at
    * terms, not a higher-order aggregate, so the hot loop stays in
    * codegen. PQ is a candidate generator: the spec pins
    * candidate-recall (exact top-k ⊂ PQ top-candidates), with exact
    * re-ranking as the downstream step (rag02's shape).
    */
  def pqTopCandidates(e: DataFrame, queryPred: Column,
                      m: Int = 8, codebookBits: Int = 4,
                      candidates: Int = 50, sampleRows: Int = 2048,
                      seed: Int = 7): DataFrame = {
    val k = 1 << codebookBits
    val dim = dimOf(e)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m

    // unit-normalize so asymmetric dot == cosine. UNROLLED over the
    // plan-time dim: higher-order functions (transform/aggregate) are
    // CodegenFallback — evaluated interpreted per row with per-element
    // lambda-variable boxing — while the element_at chain compiles into
    // whole-stage codegen. Fold order matches the old aggregate (left
    // to right from 0.0, each v·v still float-rounded before widening),
    // so the doubles are bit-identical.
    val sqSum = (1 to dim).map(i =>
        element_at(col("embedding"), i) * element_at(col("embedding"), i))
      .foldLeft(lit(0.0d))(_ + _)
    val unit = e
      .withColumn("n", sqrt(sqSum))
      .select(col("vec_id"),
        array((1 to dim).map(i =>
          element_at(col("embedding"), i) / greatest(col("n"), lit(1e-12))): _*).as("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // per-subspace codebooks from a deterministic hash-ordered sample
    val sample = unit.orderBy(pmod(hash(col("vec_id")), lit(1000003)).asc, col("vec_id").asc)
      .limit(sampleRows).collect()
      .map(_.getSeq[Double](1).toArray)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val subvecs = sample.map(v => v.slice(s * sub, (s + 1) * sub))
      kmeansOnDriver(subvecs, k, iters = 8, seed = seed + s)
    }

    // encode: per subspace, argmin L2 over the 16 codewords — unrolled
    // literal expressions (element_at chains, same left-fold order as
    // the old aggregate(zip_with(...)) so every distance is
    // bit-identical — but codegen'd instead of interpreted), one
    // projection, no shuffle.
    def code(s: Int): Column = {
      val dists = array(codebooks(s).map { cw =>
        (1 to sub).map { i =>
          val d = element_at(col("u"), s * sub + i) - lit(cw(i - 1))
          d * d
        }.foldLeft(lit(0.0d))(_ + _)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    // PERSISTED: the encode projection sits on the stream side of the
    // scoring join below, and Catalyst inlines a projection under a
    // join's output — unpersisted, the m·16·(D/m)-term encode ran once
    // per JOINED row (|corpus|×|queries| times), not once per corpus
    // row (measured: 5.3 s vs 1.1 s encode + 2.0 s scoring at sf0.1 —
    // the gw03/ev31 CollapseProject lesson again). Released with unit
    // after the bounded result materializes.
    val coded = unit
      .withColumn("codes", array((0 until m).map(code): _*))
      .select("vec_id", "codes")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // queries: flat m*16 LUT of subquery·codeword dots (same unroll)
    val lut = {
      val terms = (0 until m).flatMap { s =>
        codebooks(s).map { cw =>
          (1 to sub).map(i => element_at(col("u"), s * sub + i) * lit(cw(i - 1)))
            .foldLeft(lit(0.0d))(_ + _)
        }
      }
      array(terms: _*)
    }
    val queries = unit.filter(queryPred)
      .select(col("vec_id").as("query_id"), lut.as("lut"))

    // asymmetric score: unrolled sum of m table lookups (codegen)
    val score = (0 until m).map { s =>
      element_at(col("lut"), element_at(col("codes"), s + 1) + lit(s * k) + 1)
    }.reduce(_ + _)
    // top-candidates per query via the bounded-heap aggregate
    // (knnBruteOn's shape, identical value-desc/id-asc tie-break) with
    // the scored frame projected to three narrow columns FIRST — the
    // old row_number window shuffled and fully sorted all
    // |corpus|×|queries| rows still carrying each query's m·16-double
    // LUT and the m-byte codes (≈1 KB/row; measured 8-10 s at sf0.1,
    // almost all of it that exchange). Guide §2.3 project-before-
    // exchange + §2.4: only ≤`candidates` entries per (query,
    // partition) shuffle now.
    val result = coded.select(col("vec_id").as("neighbor_id"), col("codes"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), microRound(score, 6).as("pq_score"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByAgg.topKBy(
        col("pq_score"), col("neighbor_id"), candidates).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("query_id"), col("entry.id").as("neighbor_id"),
        col("entry.value").as("pq_score"),
        (col("pos") + 1).cast("int").as("rank"))
    // the result is bounded (|queries| × candidates): materialize it
    // eagerly so the cached unit frame can be released instead of
    // leaking for the session's lifetime
    val rows = result.collect()
    unit.unpersist(); coded.unpersist()
    e.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** Plain Lloyd k-means over a driver-side sample (codebook training
    * only — never corpus-sized data). Deterministic seeding.
    */
  private[operators] def kmeansOnDriver(points: Array[Array[Double]], k: Int,
                                        iters: Int, seed: Int): Array[Array[Double]] = {
    require(points.nonEmpty)
    val d = points(0).length
    val rnd = new scala.util.Random(seed)
    var cents = rnd.shuffle(points.indices.toList).take(k).map(points(_).clone).toArray
    if (cents.length < k) cents = Array.tabulate(k)(i => cents(i % cents.length).clone)
    def nearest(p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var dd = 0.0; var i = 0
        while (i < d) { val x = p(i) - cents(c)(i); dd += x * x; i += 1 }
        if (dd < bestD) { bestD = dd; best = c }
        c += 1
      }
      best
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      points.foreach { p =>
        val c = nearest(p); counts(c) += 1
        var i = 0; while (i < d) { sums(c)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0; while (i < d) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** sim08 adapter: PQ candidates over the test corpus. */
  def pqCandidates(s: SparkSession, dir: String): DataFrame =
    pqTopCandidates(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .orderBy("query_id", "rank")

  /** Generic IVF over any (vec_id, embedding, label) corpus; `label`
    * seeds the coarse cells (one Lloyd update from the labeled
    * partition — KMeans.fit for proper iterations). `probes` > 1
    * searches the query's top-N cells (multi-probe: the standard
    * recall knob — cost grows linearly in probes, never quadratic).
    */
  def ivfAnnOn(e: DataFrame, queryPred: Column, k: Int = 5, probes: Int = 1): DataFrame = {
    // centroid table: tiny (one cell per label), broadcast everywhere
    val centroids = centroidsFor(e, "label")
    // persisted: feeds both sides of the search join — without it the
    // centroid build + assignment window runs twice
    val assigned = assignToCentroids(e, centroids)
      .select("vec_id", "embedding", "cell")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // search: queries probe their top-`probes` cells
    val wProbe = Window.partitionBy("vec_id").orderBy(col("cc").desc, col("cell").asc)
    val queries =
      if (probes == 1)
        assigned.filter(queryPred)
          .select(col("cell"), col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      else
        e.filter(queryPred).select("vec_id", "embedding").join(broadcast(centroids))
          .withColumn("cc", cosineSim(col("embedding"), col("centroid")))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= probes)
          .select(col("cell"), col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wTop = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    assigned.select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", microRound(cosineSim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "cell", "neighbor_id", "cos", "rank")
  }

  /** sim09: semantic deduplication (SemDeDup — Abbas et al. 2023,
    * arXiv:2303.09540, public): k-means the embedding space, compare
    * pairs WITHIN each cluster only, and drop all but one
    * representative from every group of vectors with cosine ≥ tau.
    * The within-cluster restriction is the whole trick — the corpus
    * never sees an all-pairs join, only Σ_cells |cell|² comparisons,
    * which with ⌈√N⌉ cells is ~N expected pairs. Groups form via
    * connected components over the ≥ tau pair graph; the kept
    * representative is the min vec_id (deterministic, the SemDeDup
    * "keep one per group" rule with an engine-mirrorable tie-break).
    *
    * Returns only the duplicate-group membership (vec_id, group_id,
    * keep) — bounded by the duplicate population, not the corpus; the
    * caller applies the drop with a broadcast anti-join exactly like
    * dd02.
    */
  def semDedupOn(e: DataFrame, tau: Double,
                 nCells: Int = 0, iters: Int = 2): DataFrame = {
    val v = e.select("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = if (nCells > 0) nCells else math.ceil(math.sqrt(v.count().toDouble)).toInt
    val cents = trainCentroids(v, cells, iters)
    // assignment is one literal-centroid projection over the cache —
    // recomputing it per consumer below is cheaper than a second
    // corpus-sized cache
    val assigned = assignToCentroidLiterals(v, typedlit((0 until cells).toList), cents)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val pairs = a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      .filter(cosineSim(col("a_emb"), col("b_emb")) >= tau)
      .select("a_id", "b_id")
    val comps = Dedup.connectedComponents(pairs, "a_id", "b_id")
    val out = comps
      .select(col("node").as("vec_id"), col("label").as("group_id"))
      .withColumn("keep", col("vec_id") === col("group_id"))
      .orderBy("group_id", "vec_id")
    // dup-group membership only — safe to materialize, releasing both
    // the corpus cache and the component labels
    Dedup.materialized(out) { comps.unpersist(); v.unpersist(blocking = false) }
  }

  /** sim09 adapter: tau tuned to the test corpus's cosine range (max
    * pairwise cosine ≈ 0.51 at sf0.01 — synthetic embeddings carry no
    * true clones, so the demonstration threshold sits inside the
    * observed tail; production SemDeDup uses 0.9+).
    */
  def semDedup(s: SparkSession, dir: String): DataFrame =
    semDedupOn(Tables.embeddings(s, dir), tau = 0.4)

  /** sim10: ANN recall harness — recall@k of every approximate serving
    * path against the sim01 brute-force ground truth on the shared
    * query set, as one table. "Measure, don't guess" made first-class:
    * this is the number a user checks BEFORE switching the serving
    * path from brute to IVF/SQ8/PQ, and the per-method rows make the
    * accuracy/cost trade explicit (PQ reports CANDIDATE recall — did
    * the truth survive into the re-rank set — since exact re-rank is
    * its downstream step).
    *
    * Scale: ground truth and every variant emit |queries|·k(or
    * candidate) rows; the recall joins run on those bounded frames —
    * the corpus is touched only inside each variant's own
    * already-audited plan.
    */
  /** Binary quantization: pack each dimension's SIGN bit into
    * ⌈dim/64⌉ longs — 32× smaller than fp32, the compression endgame
    * past sim07's int8 and sim08's PQ (the 1-bit serving tier every
    * vector store has shipped: Elasticsearch BBQ, pgvector bit
    * quantization, FAISS binary indexes). For unit-ish random vectors
    * the Hamming distance between sign patterns is a monotone proxy
    * for angle (Goemans–Williamson: P[sign differs] = θ/π — the same
    * hyperplane identity behind sim05's RP-LSH, with the coordinate
    * axes as the planes), so low-Hamming candidates are high-cosine
    * candidates.
    *
    * Encoding is a stateless projection (nested codegen HOFs, no
    * shuffle, no UDF); the word-array form keeps the operator honest
    * for production dims (768 → 12 longs), not just the test corpus.
    */
  def binarize(e: DataFrame): DataFrame = binarizeWithDim(e, dimOf(e))

  /** binarize with the embedding width already known (saves the probe
    * job; the caller that also builds the Hamming kernel needs the
    * word count anyway). UNROLLED: the old nested
    * aggregate(sequence(0,63)) ran 64 interpreted fold steps per word
    * per row (HOFs are CodegenFallback); the OR chain over per-bit
    * CASEs compiles into whole-stage codegen and is value-identical
    * (bitwise OR is order-free, out-of-range bits contribute the same
    * 0 the old in-range guard kept as `acc`).
    */
  private[operators] def binarizeWithDim(e: DataFrame, dim: Int): DataFrame = {
    val words = (dim + 63) / 64
    val wordCols = (0 until words).map { w =>
      (0 until math.min(64, dim - w * 64)).map { b =>
        when(element_at(col("embedding"), w * 64 + b + 1) > 0, lit(1L << b))
          .otherwise(lit(0L))
      }.foldLeft(lit(0L))(_ bitwiseOR _)
    }
    e.withColumn("bcode", array(wordCols: _*))
  }

  /** sim11: binary-quantized ANN — Hamming-distance candidate
    * generation over the 1-bit codes (popcount of XOR per word, a
    * pure-codegen kernel over longs), exact-cosine re-rank of the
    * bounded candidate set (rag02's cheap-wide/expensive-narrow
    * shape). Same broadcast-queries/no-corpus-shuffle plan as
    * sim01/sim07; the corpus-sized scan reads 8 bytes per vector
    * instead of 256. Rows-only (bit packing has no DuckDB mirror);
    * recall vs the float baseline is spec-pinned.
    */
  def binaryKnn(s: SparkSession, dir: String, k: Int = 5,
                candidates: Int = 50): DataFrame =
    binaryKnnOn(Tables.embeddings(s, dir), col("vec_id") % 50 === 0, k, candidates)

  def binaryKnnOn(e: DataFrame, queryPred: Column, k: Int = 5,
                  candidates: Int = 50): DataFrame = {
    val dim = dimOf(e)
    val words = (dim + 63) / 64
    // PERSISTED: the binarize OR-chain sits on the stream side of the
    // Hamming candidate join — unpersisted, Catalyst inlines it under
    // the join output and the dim-term encode runs once per JOINED row
    // (|corpus|×|queries|), not once per corpus row (sim08's measured
    // CollapseProject lesson). Released after the bounded result
    // materializes below.
    val b = binarizeWithDim(e, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the wide (corpus × queries) Hamming stage streams CODES ONLY —
    // 8 bytes/vector at dim 64 — so the 32× compression actually
    // reaches the scan; float embeddings re-enter just for the
    // ≤ |queries|·candidates re-rank rows (rag02's cheap-wide /
    // expensive-narrow shape, with the candidate keys broadcast)
    val queries = b.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("bcode").as("q_code"))
    val corpus = b.select(col("vec_id").as("neighbor_id"), col("bcode").as("c_code"))
    // candidate selection is the exact bounded-heap aggregate (q26's
    // graft_top_by, value = −hamming so "closest first"): map-side
    // partials keep ≤ candidates entries per (query, partition), ONE
    // shuffle moves only those — never a corpus-sized window sort per
    // query, which would single-task the whole corpus at serving time
    // per-word popcount of XOR, UNROLLED over the plan-time word count
    // (the corpus × queries hot loop must stay in codegen — the old
    // aggregate(zip_with(...)) evaluated interpreted per pair); int
    // additions in the same left-to-right order, value-identical
    val hammingCol = (1 to words).map(w =>
        bit_count(element_at(col("q_code"), w).bitwiseXOR(element_at(col("c_code"), w)))
          .cast("int"))
      .foldLeft(lit(0))(_ + _)
    val cand = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hammingCol)
      .groupBy("query_id")
      .agg(graft.functions.TopKByAgg.topKBy(
        -col("hamming").cast("double"), col("neighbor_id").cast("long"), candidates).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
              (-col("e.value")).cast("int").as("hamming"))
    val emb = e.select(col("vec_id"), col("embedding"))
    val byCos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val out = emb.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .drop("vec_id")
      .join(broadcast(emb.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
        "query_id")
      .withColumn("cos", microRound(cosineSim(col("q_emb"), col("embedding")), 6))
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "hamming", "cos", "rank")
    // bounded (≤ |queries|·k rows) — materialize so the binarized
    // corpus cache releases with the action instead of leaking
    Dedup.materialized(out) { b.unpersist() }
  }

  def annRecall(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // ONE persisted corpus shared by all six member pipelines — each
    // previously re-scanned the parquet source (and re-probed dimOf)
    // independently; legitimate within the one action, released at end
    val e = Tables.embeddings(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pred = col("vec_id") % 50 === 0
    val truth = knnBruteOn(e, pred, k)
      .select("query_id", "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def recallOf(name: String, approx: DataFrame): DataFrame =
      truth.join(approx.select("query_id", "neighbor_id").withColumn("hit", lit(1L)),
                 Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct("query_id").as("n_queries"),
             count(lit(1)).as("n_truth"),
             sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(name).as("method"), col("n_queries"), lit(k).as("k"),
                microRatio(col("n_hit"), col("n_truth"), 4).as("recall"))
    val out = Seq(
      // self-check against the SAME persisted frame: validates the
      // metric plumbing (must print exactly 1.0) without paying a
      // second brute-force corpus pass
      recallOf("brute", truth),
      recallOf("ivf_label", ivfAnnOn(e, pred, k)),
      recallOf("ivf_kmeans", ivfAnnKmeans(e, pred, k)),
      recallOf("sq8", quantizedKnnOn(e, k)),
      recallOf("pq_candidates", pqTopCandidates(e, pred)),
      recallOf("binary", binaryKnnOn(e, pred, k))
    ).reduce(_ unionByName _)
    Dedup.materialized(out) { truth.unpersist(); e.unpersist() }
  }
}
