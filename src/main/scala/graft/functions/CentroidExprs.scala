package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Centroid-assignment kernels that scale to thousands of centroids.
  *
  * The first IVF/domain implementation inlined every centroid as a
  * `typedlit` and took `greatest(...)` over nlist score structs. That is
  * fine at nlist=16 but the expression TREE grows linearly with nlist: at
  * production nlist (thousands) codegen blows the JVM's 64KB method limit
  * and Spark silently falls back to interpreted projection — the exact
  * failure mode a 100 TB assignment pass cannot afford.
  *
  * These expressions carry the fitted centroid matrix as ONE reference
  * object instead: the generated code calls a fixed-size row kernel whose
  * bytecode is independent of nlist, so whole-stage codegen holds at any
  * centroid count (CentroidExprsSpec pins nlist=1024 under
  * CODEGEN_ONLY). The matrix is serialized once per task — the same cost
  * model as a broadcast variable, never once per row.
  *
  * Bit-exactness contract (what keeps the DuckDB replay oracles green):
  * per-centroid cosine accumulates dot/na/nb left-to-right in double — the
  * identical operation sequence as [[VectorExprs.CosineSim]] against a
  * centroid literal, so scores are bit-identical to the literal
  * formulation and to the oracle's `list_dot_product` replay. Hoisting the
  * row norm out of the centroid loop and pre-computing centroid norms does
  * not change a single bit (each is the same sequential sum it was inside
  * the fused loop; embedding and centroid dims are equal by construction).
  * Ties break to the smallest centroid id in both kernels
  * (`Double.compare` strict improvement ≡ `ORDER BY cs DESC, cluster`).
  */
sealed trait CentroidKernel extends UnaryExpression {
  def centroids: Array[Array[Double]]

  protected def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  protected def mayHaveNullElems: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  override def nullable: Boolean = child.nullable || mayHaveNullElems

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(et, _) if et == FloatType || et == DoubleType || et == ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, array<double> or array<tinyint>, got ${t.simpleString}")
  }

  /** ‖c‖ per centroid, pre-computed once per task. Same sequential
    * left-to-right Σ y·y as the fused kernel — bit-identical. */
  @transient protected lazy val sqrtNorms: Array[Double] = centroids.map { c =>
    var nb = 0.0; var i = 0
    while (i < c.length) { nb += c(i) * c(i); i += 1 }
    math.sqrt(nb)
  }

  // hoisted once per expression instance — elem runs (nlist+1)·dim times
  // per row, a DataType pattern match there is pure hot-loop overhead
  @transient private lazy val elemTag: Int = elemType match {
    case FloatType => 0
    case DoubleType => 1
    case ByteType => 2
    case t => throw new IllegalStateException(s"unsupported element type $t")
  }

  private def elem(arr: ArrayData, i: Int): Double = elemTag match {
    case 0 => arr.getFloat(i).toDouble
    case 1 => arr.getDouble(i)
    case _ => arr.getByte(i).toDouble
  }

  /** All nlist cosine scores for one row, or null on a null element
    * (poisons the result, same as the fused kernels). */
  protected final def scores(arr: ArrayData): Array[Double] = {
    val nullable = mayHaveNullElems
    val nElems = arr.numElements()
    var na = 0.0
    var i = 0
    while (i < nElems) {
      if (nullable && arr.isNullAt(i)) return null
      val x = elem(arr, i); na += x * x
      i += 1
    }
    // a wrong-dim row would otherwise truncate the dot product while the
    // row norm spans all elements — plausible-but-wrong assignments; fail
    // loudly like PqEncode. Once per ROW (centroid dims are uniform by
    // construction — a fitted matrix), not inside the nlist loop
    require(centroids.length == 0 || nElems == centroids(0).length,
      s"$prettyName: embedding dim $nElems != centroid dim ${centroids(0).length}")
    val sna = math.sqrt(na)
    val out = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var dot = 0.0
      var j = 0
      while (j < nElems) { dot += elem(arr, j) * cent(j); j += 1 }
      val d = sna * sqrtNorms(c)
      out(c) = if (d == 0.0) 0.0 else dot / d
      c += 1
    }
    out
  }

  /** Row kernel invoked from both interpreted eval and generated code —
    * the generated projection calls this via a reference object, so the
    * bytecode footprint is constant in nlist and the expression stays
    * inside the WholeStageCodegen span. */
  def compute(arr: ArrayData): AnyRef

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  protected def resultJavaType: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("centroidKernel", this, "graft.functions.CentroidKernel")
      val r = ctx.freshName("r")
      // when the expression is non-nullable, nullSafeCodeGen never DECLARES
      // ev.isNull — referencing it would be uncompilable generated Java
      // (silent interpreted fallback). compute() can only return null for
      // nullable inputs, so the guard degrades to a defensive throw.
      val onNull =
        if (nullable) s"${ev.isNull} = true;"
        else "throw new IllegalStateException(\"non-nullable centroid kernel returned null\");"
      s"""
         |Object $r = $self.compute($a);
         |if ($r == null) { $onNull }
         |else { ${ev.value} = ($resultJavaType) $r; }
       """.stripMargin
    })
}

/** argmax-cosine assignment: `struct(cluster int, cs double)` of the best
  * centroid. One row-local pass, zero shuffle — the 100 TB assignment
  * shape (the coarse-quantizer assign step of an IVF index). */
case class CentroidArgmax(child: Expression, centroids: Array[Array[Double]])
    extends CentroidKernel {
  override def dataType: DataType = CentroidExprs.ScoreStruct
  override def prettyName: String = "centroid_argmax"
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.InternalRow"

  override def compute(arr: ArrayData): AnyRef = {
    val cs = scores(arr)
    if (cs == null) return null
    var best = 0
    var c = 1
    while (c < cs.length) {
      // Double.compare ranks NaN greatest — Spark's double ordering, so
      // the result matches greatest(struct(cs, -cluster)) bit-for-bit
      if (java.lang.Double.compare(cs(c), cs(best)) > 0) best = c
      c += 1
    }
    new GenericInternalRow(Array[Any](best, cs(best)))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Top-`n` centroids by (cs DESC, cluster ASC) as
  * `array<struct<cluster int, cs double>>` — the query-side nprobe cell
  * choice. Scores once, sorts nlist entries per row (query-side rows are
  * few; the corpus-side pass uses [[CentroidArgmax]]). */
case class CentroidTopN(child: Expression, centroids: Array[Array[Double]], n: Int)
    extends CentroidKernel {
  override def dataType: DataType = ArrayType(CentroidExprs.ScoreStruct, containsNull = false)
  override def prettyName: String = "centroid_topn"
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.util.ArrayData"

  override def compute(arr: ArrayData): AnyRef = {
    val cs = scores(arr)
    if (cs == null) return null
    val idx = Array.range(0, cs.length).sortWith { (a, b) =>
      val c = java.lang.Double.compare(cs(a), cs(b))
      if (c != 0) c > 0 else a < b
    }
    val k = math.min(n, idx.length)
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      out(i) = new GenericInternalRow(Array[Any](idx(i), cs(idx(i))))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Nearest centroid by SQUARED L2 — `struct(cluster int, d2 double)` —
  * the euclidean sibling of [[CentroidArgmax]] for k-means-family passes
  * (s28's per-round cost/sampling and attraction weighting). Same
  * scaling contract: the candidate matrix rides as ONE reference object,
  * so bytecode is constant in the candidate count — the first s28 cut
  * inlined each round's ~65×64 candidate matrix as literals THREE times
  * per round and spent its 9 s in janino, the exact 64KB-method failure
  * the header documents. Fused per-centroid Σ(x−c)² left-to-right; ties
  * break to the smaller cluster id. Engine-internal passes only (the
  * gated outputs go through the exact-decimal assignment), so
  * bit-replication in an oracle is not part of its contract. */
case class CentroidNearestL2(child: Expression, centroids: Array[Array[Double]])
    extends CentroidKernel {
  override def dataType: DataType = CentroidExprs.DistStruct
  override def prettyName: String = "centroid_nearest_l2"
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.InternalRow"

  @transient private lazy val isFloat: Boolean = elemType == FloatType

  override def compute(arr: ArrayData): AnyRef = {
    val nElems = arr.numElements()
    val nullable = mayHaveNullElems
    val x = new Array[Double](nElems)
    var i = 0
    while (i < nElems) {
      if (nullable && arr.isNullAt(i)) return null
      x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    require(centroids.length > 0 && nElems == centroids(0).length,
      s"$prettyName: embedding dim $nElems != centroid dim")
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var d = 0.0
      var j = 0
      while (j < nElems) { val df = x(j) - cent(j); d += df * df; j += 1 }
      if (java.lang.Double.compare(d, bd) < 0) { bd = d; best = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](best, bd))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Nearest centroid under EXACT scaled-integer L2 (s28's gated census
  * assignment) — the native form of the SQL limb fold it replaces (r14
  * opt): per centroid, each squared diff `t = (a−b)²` (≤ 4e18 under the
  * |scaled| ≤ 1e9 bound, i.e. |coordinate| < 10 at scale 1e8; a value
  * past it fails loudly, since a wider diff's square could wrap a Long)
  * splits into base-1e9 limb
  * sums `h += t div 1e9, l += t % 1e9` (t ≥ 0, so div/% agree with
  * Scala's `/`/`%`), carry-normalizes to (dh = h + l div 1e9,
  * dl = l % 1e9), and the argmin compares (dh, dl) lexicographically
  * with strict improvement — identical to
  * `element_at(array_sort(transform(...)), 1).cl`'s (d, cl) struct order
  * (ties to the lower cluster). Exact integer arithmetic on both sides ⇒
  * the same argmin bit-for-bit; but the HOF form allocated zip_with +
  * aggregate + struct arrays per (row × centroid) — the whole s28 census
  * cost — where this is a flat long loop, constant bytecode in k (the
  * same scaling contract as the kernels above). A null element nulls the
  * row (the fixtures feed non-null embeddings). */
case class CentroidNearestLimb(child: Expression, centroids: Array[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "centroid_nearest_limb"

  private def outOfBound(v: Long): Boolean = v > 1000000000L || v < -1000000000L
  private def boundError(what: String, v: Long): Nothing =
    throw new IllegalArgumentException(s"$prettyName: $what $v is outside the |scaled| <= 1e9 bound")
  for (c <- centroids.indices; v <- centroids(c) if outOfBound(v)) boundError(s"centroid $c value", v)

  private def mayHaveNullElems: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }
  override def nullable: Boolean = child.nullable || mayHaveNullElems

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.simpleString}")
  }

  def compute(arr: ArrayData): AnyRef = {
    val n = arr.numElements()
    val nullable = mayHaveNullElems
    val x = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (nullable && arr.isNullAt(i)) return null
      x(i) = arr.getLong(i)
      if (outOfBound(x(i))) boundError(s"element $i", x(i))
      i += 1
    }
    require(centroids.length > 0 && n == centroids(0).length,
      s"$prettyName: embedding dim $n != centroid dim")
    var best = 0L
    var bh = Long.MaxValue
    var bl = Long.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var h = 0L
      var l = 0L
      var j = 0
      while (j < n) {
        val d = x(j) - cent(j)
        val t = d * d
        h += t / 1000000000L
        l += t % 1000000000L
        j += 1
      }
      val dh = h + l / 1000000000L
      val dl = l % 1000000000L
      if (dh < bh || (dh == bh && dl < bl)) { bh = dh; bl = dl; best = c }
      c += 1
    }
    java.lang.Long.valueOf(best)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("limbKernel", this, "graft.functions.CentroidNearestLimb")
      val r = ctx.freshName("r")
      val onNull =
        if (nullable) s"${ev.isNull} = true;"
        else "throw new IllegalStateException(\"non-nullable limb kernel returned null\");"
      s"""
         |Object $r = $self.compute($a);
         |if ($r == null) { $onNull }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CentroidExprs {

  val ScoreStruct: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("cs", DoubleType, nullable = false)))

  val DistStruct: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))

  import org.apache.spark.sql.graftshim.shim.{toColumn, toExpression}

  def centroid_argmax(emb: Column, centroids: Array[Array[Double]]): Column =
    toColumn(CentroidArgmax(toExpression(emb), centroids))

  def centroid_topn(emb: Column, centroids: Array[Array[Double]], n: Int): Column =
    toColumn(CentroidTopN(toExpression(emb), centroids, n))

  def centroid_nearest_l2(emb: Column, centroids: Array[Array[Double]]): Column =
    toColumn(CentroidNearestL2(toExpression(emb), centroids))

  def centroid_nearest_limb(ri: Column, centroids: Array[Array[Long]]): Column =
    toColumn(CentroidNearestLimb(toExpression(ri), centroids))
}
