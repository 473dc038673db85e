package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, ShortType, StructField, StructType}

/** Cosine similarity over two float/double array columns as a native
  * Catalyst expression with whole-stage codegen — the hot inner loop of
  * every similarity/ANN operator (SURVEY §2 sim01–sim04).
  *
  * Mirrors the vector-retrieval side of the reference's RAG stack
  * (knowledge-augur / knowledge-embedder: cosine top-k over stored
  * article embeddings). A Scala UDF here would box every element of
  * every array on every comparison; this expression reads primitives
  * straight out of Tungsten `ArrayData` inside the generated loop, so a
  * brute-force scan stays a single WholeStageCodegen stage.
  *
  * Accumulation is sequential over array order, in doubles — the exact
  * formula the DuckDB oracles replicate (zip → double multiply →
  * ordered sum), so results hash-match after rounding.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (NumericArrays.accepts(left.dataType) && NumericArrays.accepts(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects array<numeric> inputs, got ${left.dataType} / ${right.dataType}")
  }

  /** ArrayData accessor for the element type — ByteType and friends
    * support quantized (int8) embeddings scored without dequantizing
    * to a float array first.
    */
  private def getter(dt: DataType): String = dt match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(ByteType, _) => "getByte"
    case ArrayType(ShortType, _) => "getShort"
    case ArrayType(IntegerType, _) => "getInt"
    case _ => "getDouble"
  }

  private def read(x: ArrayData, i: Int, get: String): Double = get match {
    case "getFloat" => x.getFloat(i).toDouble
    case "getByte" => x.getByte(i).toDouble
    case "getShort" => x.getShort(i).toDouble
    case "getInt" => x.getInt(i).toDouble
    case _ => x.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lg = getter(left.dataType); val rg = getter(right.dataType)
    val nx = x.numElements(); val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = read(x, i, lg)
      val yi = read(y, i, rg)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    // norms run over the FULL arrays — a truncated embedding must score
    // lower, not silently renormalize to 1 (and the DuckDB oracle's
    // self-zips are full-length)
    while (i < nx) { val xi = read(x, i, lg); na += xi * xi; i += 1 }
    i = n
    while (i < ny) { val yi = read(y, i, rg); nb += yi * yi; i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = getter(left.dataType)
    val rGet = getter(right.dataType)
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      s"""
        int $nx = $x.numElements();
        int $ny = $y.numElements();
        int $n = Math.min($nx, $ny);
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double xi = (double) $x.$lGet($i);
          double yi = (double) $y.$rGet($i);
          $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
        }
        for (int $i = $n; $i < $nx; $i++) { double xi = (double) $x.$lGet($i); $na += xi * xi; }
        for (int $i = $n; $i < $ny; $i++) { double yi = (double) $y.$rGet($i); $nb += yi * yi; }
        double $denom = Math.sqrt($na) * Math.sqrt($nb);
        if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
      """
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The numeric arrays the vector kernels accept, and one row of them
  * widened to doubles (exact for every accepted element type).
  */
private[functions] object NumericArrays {
  def accepts(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | ByteType | ShortType | IntegerType, _) => true
    case _ => false
  }

  /** A null element reads as 0, as the ArrayData getters read it in
    * CosineSimilarity.
    */
  def widen(x: ArrayData, dt: DataType): Array[Double] = {
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    dt match {
      case ArrayType(FloatType, _) => while (i < n) { out(i) = x.getFloat(i); i += 1 }
      case ArrayType(ByteType, _) => while (i < n) { out(i) = x.getByte(i); i += 1 }
      case ArrayType(ShortType, _) => while (i < n) { out(i) = x.getShort(i); i += 1 }
      case ArrayType(IntegerType, _) => while (i < n) { out(i) = x.getInt(i); i += 1 }
      case _ => while (i < n) { out(i) = x.getDouble(i); i += 1 }
    }
    out
  }
}

/** Cosine of one embedding against every row of a driver-side k×dim
  * centroid matrix — the assignment step of k-means and IVF
  * (recap-worker's kmeans.rs, the RAG stack's IVF cells).
  *
  * The arithmetic is CosineSimilarity's, value for value: `dot /
  * (sqrt(na)·sqrt(nb))` accumulated in array order, norms over the
  * full lengths, null where the denominator is 0. The row norm is
  * computed once per row and the centroid norms once per expression,
  * so a row costs one dot-product loop per centroid.
  *
  * Generated code calls `kernel` on this instance: the loops live in
  * one small JIT-compiled method instead of being spliced into the
  * stage, where k cosine expressions pushed `processNext()` past
  * HotSpot's 8,000-byte compile limit (9,724 bytes at k = 32, dim = 64).
  * The matrix is compared by reference, so a plan built twice from
  * the same centroids holds two unequal kernels.
  */
abstract class CentroidKernel extends UnaryExpression {
  def centroids: Array[Array[Double]]

  @transient private lazy val norms: Array[Double] = centroids.map(norm)

  /** sqrt of the sum of squares, accumulated in array order. */
  protected final def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** The cosine's denominator for centroid c; the cosine is undefined
    * (null) where it is 0.
    */
  protected final def denom(rowNorm: Double, c: Int): Double = rowNorm * norms(c)

  protected final def dot(xs: Array[Double], c: Int): Double = {
    val y = centroids(c)
    val n = math.min(xs.length, y.length)
    var d = 0.0; var i = 0
    while (i < n) { d += xs(i) * y(i); i += 1 }
    d
  }

  /** The result for one non-null row; null when no cosine is defined. */
  def kernel(x: ArrayData): AnyRef

  override def checkInputDataTypes(): TypeCheckResult =
    if (NumericArrays.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<numeric>, got ${child.dataType}")

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("centroidKernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = (${CodeGenerator.javaType(dataType)}) $self.kernel($x);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override def stringArgs: Iterator[Any] =
    Iterator(child, s"${centroids.length} centroids")
}

/** Argmax-cosine centroid of a row → struct<idx:int, cc:double>, `idx`
  * the 0-based centroid index. The first maximum wins, so the smallest
  * index wins a tie; NaN ranks greatest (SQL ordering); null centroid
  * cosines are skipped, and the result is null when none is defined.
  * These are the semantics of `array_position(ccs, array_max(ccs))`
  * over the k cosines.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends CentroidKernel {

  override def dataType: DataType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("cc", DoubleType, nullable = false)))

  override def kernel(x: ArrayData): AnyRef = {
    val xs = NumericArrays.widen(x, child.dataType)
    val rowNorm = norm(xs)
    var best = -1; var bestCc = 0.0; var c = 0
    while (c < centroids.length) {
      val d = denom(rowNorm, c)
      if (d != 0.0) {
        val cc = dot(xs, c) / d
        if (best < 0 || SQLOrderingUtil.compareDoubles(cc, bestCc) > 0) { best = c; bestCc = cc }
      }
      c += 1
    }
    if (best < 0) null else InternalRow(best, bestCc)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** All k centroid cosines of a row → array<double>, null entries where
  * a cosine is undefined: the value of `array(cosineSim(e, c_1), …,
  * cosineSim(e, c_k))` for literal centroids.
  */
case class CentroidCosines(child: Expression, centroids: Array[Array[Double]])
    extends CentroidKernel {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def kernel(x: ArrayData): AnyRef = {
    val xs = NumericArrays.widen(x, child.dataType)
    val rowNorm = norm(xs)
    val out = new Array[Any](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val d = denom(rowNorm, c)
      if (d != 0.0) out(c) = dot(xs, c) / d
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidCosines =
    copy(child = newChild)
}

/** Per-dimension sum (`mean = false`) or mean (`mean = true`) of the
  * first `dim` elements of an array column → array<double> of length
  * `dim`, as ONE aggregate instead of `dim` separate
  * `sum`/`avg(element_at(e, i))` aggregates.
  *
  * The values are those aggregates': per dimension, a double sum in
  * input order plus a count of non-null elements, merged by addition;
  * an entry is null when its dimension saw no non-null element, and
  * the mean is sum / count. Null rows are skipped; elements past a
  * row's length count as null.
  */
case class VectorAgg(
    child: Expression,
    dim: Int,
    mean: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorAgg.Buffer] {

  require(dim >= 1, "need dim >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = if (mean) "graft_vector_avg" else "graft_vector_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (NumericArrays.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<numeric>, got ${child.dataType}")

  override def createAggregationBuffer(): VectorAgg.Buffer =
    VectorAgg.Buffer(new Array[Double](dim), new Array[Long](dim))

  override def update(buf: VectorAgg.Buffer, input: InternalRow): VectorAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[ArrayData]
      val xs = NumericArrays.widen(x, child.dataType)
      val n = math.min(dim, xs.length)
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i)) { buf.sums(i) += xs(i); buf.counts(i) += 1 }
        i += 1
      }
    }
    buf
  }

  override def merge(b1: VectorAgg.Buffer, b2: VectorAgg.Buffer): VectorAgg.Buffer = {
    var i = 0
    while (i < dim) { b1.sums(i) += b2.sums(i); b1.counts(i) += b2.counts(i); i += 1 }
    b1
  }

  override def eval(buf: VectorAgg.Buffer): Any =
    new GenericArrayData(Array.tabulate[Any](dim) { i =>
      if (buf.counts(i) == 0) null
      else if (mean) buf.sums(i) / buf.counts(i)
      else buf.sums(i)
    })

  override def serialize(buf: VectorAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(dim * 16)
    buf.sums.foreach(bb.putDouble)
    buf.counts.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VectorAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    VectorAgg.Buffer(Array.fill(dim)(bb.getDouble), Array.fill(dim)(bb.getLong))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VectorAgg =
    copy(child = newChildren.head)
}

object VectorAgg {
  final case class Buffer(sums: Array[Double], counts: Array[Long])
}

object VectorFunctions {
  /** Column API for the native expression. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** struct<idx, cc>: the nearest of `centroids` by cosine (see NearestCentroid). */
  def nearestCentroid(e: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(e), centroids))

  /** array<double>: the cosine to each of `centroids`, in order. */
  def centroidCosines(e: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(CentroidCosines(ColumnBridge.expression(e), centroids))

  /** Per-dimension mean of the first `dim` elements, for agg(). */
  def vectorMean(e: Column, dim: Int): Column =
    ColumnBridge.column(VectorAgg(ColumnBridge.expression(e), dim, mean = true).toAggregateExpression())

  /** Per-dimension sum of the first `dim` elements, for agg(). */
  def vectorSum(e: Column, dim: Int): Column =
    ColumnBridge.column(VectorAgg(ColumnBridge.expression(e), dim, mean = false).toAggregateExpression())

  /** Register every graft SQL function in an existing session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[CosineSimilarity].getName, name), builder)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` installs the
  * graft SQL functions cluster-wide (the production path;
  * `VectorFunctions.register` is the ad-hoc path). Integer literals
  * parameterize k/bands/window where the expression needs them.
  */
object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** Arity guard: a clean, named error instead of the raw
    * IndexOutOfBoundsException `es(1)` would throw when a SQL caller
    * passes too few arguments.
    */
  private def arity(name: String, min: Int, max: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length < min || es.length > max)
        throw new IllegalArgumentException(
          s"$name expects " +
          (if (min == max) s"$min argument(s)" else s"between $min and $max arguments") +
          s", got ${es.length}")
      b(es)
    }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> arity("graft_cosine", 2, 2)(es => CosineSimilarity(es(0), es(1))),
    "graft_minhash" -> arity("graft_minhash", 1, 2)(es =>
      MinHashSignature(es(0), if (es.length > 1) intArg(es(1), "k") else 64)),
    "graft_minhash_bands" -> arity("graft_minhash_bands", 1, 3)(es => MinHashBands(es(0),
      if (es.length > 1) intArg(es(1), "k") else 64,
      if (es.length > 2) intArg(es(2), "bands") else 16)),
    "graft_shingles" -> arity("graft_shingles", 2, 2)(es => WordShingles(es(0), intArg(es(1), "n"))),
    "graft_simhash" -> arity("graft_simhash", 1, 1)(es => SimHash64(es(0))),
    "graft_winnow" -> arity("graft_winnow", 1, 2)(es =>
      WinnowFingerprints(es(0), if (es.length > 1) intArg(es(1), "w") else 4)),
    "graft_lang_id" -> arity("graft_lang_id", 1, 1)(es => LangIdExpr(es(0),
      TextFunctions.langMarkers.map(_._1), TextFunctions.langMarkers.map(_._2))),
    "graft_simhash_agg" -> arity("graft_simhash_agg", 1, 1)(es =>
      SimHashAgg(es(0)).toAggregateExpression()),
    "graft_topk_agg" -> arity("graft_topk_agg", 1, 3)(es => SpaceSavingAgg(es(0),
      if (es.length > 1) intArg(es(1), "k") else 10,
      if (es.length > 2) intArg(es(2), "capacity") else 256).toAggregateExpression()),
    "graft_lcs" -> arity("graft_lcs", 2, 2)(es => LcsLength(es(0), es(1))),
    "graft_top_by" -> arity("graft_top_by", 2, 3)(es => TopKByAgg(es(0), es(1),
      if (es.length > 2) intArg(es(2), "k") else 10).toAggregateExpression()),
    "graft_rp_bands" -> arity("graft_rp_bands", 1, 3)(es => RpSignBands(es(0),
      if (es.length > 1) intArg(es(1), "bands") else 16,
      if (es.length > 2) intArg(es(2), "rowsPerBand") else 8)))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[CosineSimilarity].getName, name),
        builder))
    }
}
