package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{Decimal, IntegerType}

import scala.jdk.CollectionConverters._

import graft.core.Grid
import graft.core.Grid.{Box, Ival}
import graft.volume.{ChunkStore, VolumeCtx, Volume, VoxelBuffer}

/** The voxel view as a first-class Catalyst citizen: the voxels of
  * `box ∩ volume`, read with the handle's broadcast store conf.
  *
  * `Volume.voxels()` produces a [[VoxelScan]] leaf covering the whole
  * physical volume and `Volume.toVoxels(box)` one covering `box`. The
  * [[PushBoxFilters]] optimizer rule narrows that box from x/y/z range
  * predicates sitting above it — so `vol.voxels().filter($"x" between (a, b))`
  * fetches only intersecting chunks, reproducing the reference's exact chunk
  * pruning (reference: src/ChunkIterators.jl:20-24) as a Catalyst rewrite —
  * and drops those predicates, which then hold on every row the scan emits.
  *
  * Statistics are the row count of the box and the row width, so a join
  * plans the scan by its real size (a petavoxel scan is never broadcast).
  *
  * This is the (LogicalPlan + Rule + Strategy + Exec) stack from
  * SURVEY.md §4, registered through [[GraftExtensions]].
  */
final case class VoxelScan(ctx: VolumeCtx, box: Box, output: Seq[Attribute],
    storeConf: Broadcast[ChunkStore.SerializableConf]) extends LeafNode with MultiInstanceRelation {
  override def simpleString(maxFields: Int): String =
    s"VoxelScan ${ctx.root} box=[${box.x.lo}..${box.x.hi}, ${box.y.lo}..${box.y.hi}, ${box.z.lo}..${box.z.hi}]"

  /** Fresh attribute ids, so a self-join of one scan resolves. */
  override def newInstance(): VoxelScan = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = {
    val b = box.intersect(ctx.volumeBox)
    val rows =
      if (b.isEmpty) BigInt(0)
      else b.dims.map(i => BigInt(i.hi.toLong - i.lo + 1)).product * ctx.numChannels
    Statistics(sizeInBytes = rows * EstimationUtils.getSizePerRow(output), rowCount = Some(rows))
  }
}

/** Narrow a VoxelScan's box using conjunctive x/y/z range predicates above
  * it, and prune its output columns from enclosing Projects. A predicate
  * folded into the box — a `>=`, `>`, `<=`, `<` or `=` between the scan's
  * own `x`/`y`/`z` and an `Int` literal, in the deterministic prefix of the
  * conjuncts — holds on every row the narrowed scan emits, so it leaves the
  * filter; the other conjuncts stay as its residual, and a filter with none
  * left is removed. No box literal then reaches the generated code, so a
  * query over a new box compiles nothing. When `value` is pruned away
  * entirely, the physical scan skips blob fetch/decode and emits
  * coordinates arithmetically (a `count(*)` or box-extent query touches
  * zero objects). */
object PushBoxFilters extends Rule[LogicalPlan] with PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, scan: VoxelScan) =>
      val parts = splitConjunctivePredicates(cond)
      val bounds = parts.takeWhile(_.deterministic).flatMap(e => bound(e, scan).map(e -> _))
      if (bounds.isEmpty) f
      else {
        val narrowed = scan.copy(box = bounds.foldLeft(scan.box)(_ intersect _._2))
        parts.filterNot(e => bounds.exists(_._1 eq e)).reduceOption(And)
          .fold[LogicalPlan](narrowed)(Filter(_, narrowed))
      }
    case p @ Project(exprs, scan: VoxelScan) =>
      val needed = exprs.flatMap(_.references.toSeq).map(_.exprId).toSet
      val kept = scan.output.filter(a => needed.contains(a.exprId))
      if (kept.length == scan.output.length) p
      else p.copy(child = scan.copy(output = kept))
    case p @ Project(exprs, f @ Filter(cond, scan: VoxelScan)) =>
      val needed = (exprs.flatMap(_.references.toSeq) ++ cond.references.toSeq).map(_.exprId).toSet
      val kept = scan.output.filter(a => needed.contains(a.exprId))
      if (kept.length == scan.output.length) p
      else p.copy(child = f.copy(child = scan.copy(output = kept)))
  }

  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case _ => None
    }
  }

  /** The box a range conjunct confines the scan's output to, unbounded on
    * the other axes; None for any other expression. */
  private def bound(e: Expression, scan: VoxelScan): Option[Box] = {
    val Min = Int.MinValue.toLong; val Max = Int.MaxValue.toLong
    val range = e match {
      case GreaterThanOrEqual(a, IntLit(v)) => Some((a, v, Max))
      case GreaterThanOrEqual(IntLit(v), a) => Some((a, Min, v))
      case GreaterThan(a, IntLit(v)) => Some((a, v + 1, Max))
      case GreaterThan(IntLit(v), a) => Some((a, Min, v - 1))
      case LessThanOrEqual(a, IntLit(v)) => Some((a, Min, v))
      case LessThanOrEqual(IntLit(v), a) => Some((a, v, Max))
      case LessThan(a, IntLit(v)) => Some((a, Min, v - 1))
      case LessThan(IntLit(v), a) => Some((a, v + 1, Max))
      case EqualTo(a, IntLit(v)) => Some((a, v, v))
      case EqualTo(IntLit(v), a) => Some((a, v, v))
      case _ => None
    }
    range.collect { case (attr: AttributeReference, lo, hi)
        if scan.output.exists(_.exprId == attr.exprId) && Seq("x", "y", "z").contains(attr.name) =>
      // bounds are Long so `x > Int.MaxValue` is empty instead of wrapping
      val i = if (lo > hi) Ival(1, 0) else Ival(lo.toInt, hi.toInt)
      val all = Ival(Int.MinValue, Int.MaxValue)
      attr.name match {
        case "x" => Box(i, all, all)
        case "y" => Box(all, i, all)
        case _ => Box(all, all, i)
      }
    }
  }
}

/** Plan a VoxelScan into its physical chunk-fetch execution. */
object VoxelScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case VoxelScan(ctx, box, output, storeConf) => VoxelScanExec(ctx, box, output, storeConf) :: Nil
    case _ => Nil
  }
}

/** Physical voxel scan: tasks over the linear ids of the cells the box
  * touches inside the volume (`VolumeCtx.cellRanges`, in
  * `Volume.taskPartitions` partitions) → fetch/decode/emit, each task
  * opening the store with the handle's broadcast conf. Per partition it
  * emits each slice's voxels in `(c, z, y, x)` order, slices in id order.
  *
  * Emits COLUMNAR batches by default (`supportsColumnar`): voxels are
  * written straight into `OnHeapColumnVector`s, 4096 per batch, and Spark
  * plants its codegen'd `ColumnarToRow` above — the same shape as the
  * vectorized parquet reader, which keeps the per-voxel cost to a few
  * primitive array stores instead of per-row UnsafeRow bookkeeping. That
  * batch loop is the node's one fetch and emit loop: `doExecute`, for plan
  * shapes that ask for rows, projects the same batches to `UnsafeRow`s. */
final case class VoxelScanExec(ctx: VolumeCtx, box: Box, output: Seq[Attribute],
    storeConf: Broadcast[ChunkStore.SerializableConf]) extends LeafExecNode {

  override def simpleString(maxFields: Int): String =
    s"VoxelScanExec ${ctx.root} box=[${box.x.lo}..${box.x.hi}, ${box.y.lo}..${box.y.hi}, ${box.z.lo}..${box.z.hi}]"

  /** Column layout resolved once — tags: 0=x 1=y 2=z 3=c 4=value; dtypeTag
    * indexes the widened value type (see VolumeCtx widening). */
  private def tagsOf(output: Seq[Attribute]): Array[Int] =
    output.map(_.name match {
      case "x" => 0; case "y" => 1; case "z" => 2; case "c" => 3; case "value" => 4
    }).toArray

  private def dtypeTagOf(c: VolumeCtx): Int = c.dataType match {
    case graft.core.Meta.TBool => 0
    case graft.core.Meta.TUInt8 => 1
    case graft.core.Meta.TUInt16 => 2
    case graft.core.Meta.TUInt32 => 3
    case graft.core.Meta.TUInt64 => 4
    case graft.core.Meta.TFloat32 => 5
    case graft.core.Meta.TFloat64 => 6
  }

  override def supportsColumnar: Boolean = true

  /** Live I/O accounting in the Spark UI / `metrics` map — the numbers that
    * matter when tuning a 100 TB scan: rows out, objects actually fetched
    * vs zero-filled, and bytes pulled from the store (coords-only scans
    * show 0 fetched — the pruning is observable, not just claimed). */
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = {
    import org.apache.spark.sql.execution.metric.SQLMetrics
    Map(
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "chunksFetched" -> SQLMetrics.createMetric(sparkContext, "chunk objects fetched"),
      "chunksMissing" -> SQLMetrics.createMetric(sparkContext, "missing chunks zero-filled"),
      "bytesFetched" -> SQLMetrics.createSizeMetric(sparkContext, "chunk bytes fetched"))
  }

  override protected def doExecuteColumnar(): RDD[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    val c = ctx
    val query = box
    val sc = session.sparkContext
    val storeBc = storeConf
    // a contradictory filter set narrows the box to an empty one: no cells
    val ids = c.cellRanges(query)
    // pruned-column layout, resolved ONCE to integer tags: the batch loop
    // runs per voxel, so no string comparison or boxing inside
    val tags = tagsOf(output)
    val dtypeTag = dtypeTagOf(c)
    // coords-only scans under zero-fill semantics never touch the store:
    // rows exist for every in-box voxel regardless of which chunks exist.
    // Strict mode (fillMissing=false) keeps fetching so missing chunks still
    // raise, preserving error semantics.
    val skipFetch = !tags.contains(4) && c.fillMissing
    val schema = org.apache.spark.sql.types.StructType(
      output.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
    val numChannels = c.numChannels
    val (mRows, mChunks, mMissing, mBytes) =
      (longMetric("numOutputRows"), longMetric("chunksFetched"),
        longMetric("chunksMissing"), longMetric("bytesFetched"))
    sc.range(0L, ids.total, 1, Volume.taskPartitions(ids.total, sc)).mapPartitions { linearIds =>
      val fs = ChunkStore.fs(c.root, storeBc.value.conf)
      val slices = linearIds.flatMap { id =>
        val (cx, cy, cz) = ids.coords(id)
        c.sliceAt(cx, cy, cz, query).map { s =>
          val buf =
            if (skipFetch) null
            else c.fetchChunk(fs, s) match {
              case Some(blob) =>
                mChunks.add(1); mBytes.add(blob.length)
                c.decodeChunk(s, blob)
              case None if c.fillMissing => mMissing.add(1); null
              case None => throw new ChunkStore.MissingChunkException(c.keyOf(s))
            }
          (s, buf)
        }
      }
      new Iterator[ColumnarBatch] {
        private val capacity = 4096
        private val vectors = OnHeapColumnVector.allocateColumns(capacity, schema)
        private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
        // cursor over the current slice's cutout box, (ch, z, y, x) order
        private var cur: Grid.ChunkSlice = null
        private var buf: VoxelBuffer = null
        private var ch = 0; private var z = 0; private var y = 0; private var x = 0

        override def hasNext: Boolean = cur != null || slices.hasNext

        override def next(): ColumnarBatch = {
          var i = 0
          while (i < vectors.length) { vectors(i).reset(); i += 1 }
          var n = 0
          while (n < capacity && (cur != null || slices.hasNext)) {
            if (cur == null) {
              val (s, b) = slices.next()
              cur = s; buf = b; ch = 0
              z = s.cutoutBox.z.lo; y = s.cutoutBox.y.lo; x = s.cutoutBox.x.lo
            }
            val cut = cur.cutoutBox
            while (n < capacity && ch < numChannels) {
              writeVoxel(n, cut)
              n += 1
              x += 1
              if (x > cut.x.hi) {
                x = cut.x.lo; y += 1
                if (y > cut.y.hi) {
                  y = cut.y.lo; z += 1
                  if (z > cut.z.hi) { z = cut.z.lo; ch += 1 }
                }
              }
            }
            if (ch >= numChannels) cur = null
          }
          batch.setNumRows(n)
          mRows.add(n)
          batch
        }

        private def writeVoxel(row: Int, cut: Box): Unit = {
          var i = 0
          while (i < tags.length) {
            tags(i) match {
              case 0 => vectors(i).putInt(row, x)
              case 1 => vectors(i).putInt(row, y)
              case 2 => vectors(i).putInt(row, z)
              case 3 => vectors(i).putInt(row, ch)
              case _ =>
                if (buf == null) dtypeTag match {
                  case 0 => vectors(i).putBoolean(row, false)
                  case 1 => vectors(i).putShort(row, 0.toShort)
                  case 2 => vectors(i).putInt(row, 0)
                  case 3 => vectors(i).putLong(row, 0L)
                  case 4 => vectors(i).putDecimal(row, Decimal(0L), 20)
                  case 5 => vectors(i).putFloat(row, 0.0f)
                  case _ => vectors(i).putDouble(row, 0.0)
                } else {
                  val lx = this.x - buf.origin._1; val ly = this.y - buf.origin._2
                  val lz = this.z - buf.origin._3
                  dtypeTag match {
                    case 0 => vectors(i).putBoolean(row, buf.getLong(lx, ly, lz, ch) != 0L)
                    case 1 => vectors(i).putShort(row, buf.getLong(lx, ly, lz, ch).toShort)
                    case 2 => vectors(i).putInt(row, buf.getLong(lx, ly, lz, ch).toInt)
                    case 3 => vectors(i).putLong(row, buf.getLong(lx, ly, lz, ch))
                    case 4 =>
                      // u64 widening: values < 2^63 (the overwhelming case)
                      // take the long constructor; only the high-bit range
                      // pays the BigInteger-from-string path
                      val u = buf.getLong(lx, ly, lz, ch)
                      vectors(i).putDecimal(row,
                        if (u >= 0) Decimal(u)
                        else Decimal(new java.math.BigDecimal(new java.math.BigInteger(
                          java.lang.Long.toUnsignedString(u)))), 20)
                    case 5 => vectors(i).putFloat(row, buf.getDouble(lx, ly, lz, ch).toFloat)
                    case _ => vectors(i).putDouble(row, buf.getDouble(lx, ly, lz, ch))
                  }
                }
            }
            i += 1
          }
        }
      }
    }
  }

  /** Rows for plan shapes that ask for them: the columnar batches, each
    * row projected to an `UnsafeRow` (what Spark's `ColumnarToRow` does). */
  override protected def doExecute(): RDD[InternalRow] = {
    val out = output
    executeColumnar().mapPartitions { batches =>
      val toUnsafe = UnsafeProjection.create(out, out)
      batches.flatMap(_.rowIterator().asScala.map(toUnsafe))
    }
  }
}

/** Session extension registrar:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PushBoxFilters)
    e.injectPlannerStrategy(_ => VoxelScanStrategy)
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        builder))
    }
  }
}

object GraftExtensions {
  import graft.functions.{ChunkExprs, NfkcExpr, SimhashAgg, VectorExprs, ZOrderExpr}

  /** The engine's SQL functions, shared by both registration paths. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "chunk_id" -> (exprs => ChunkExprs.ChunkId(exprs(0), exprs(1), exprs(2))),
    "chunk_key" -> (exprs => ChunkExprs.ChunkKey(exprs)),
    "chunk_key_parse" -> (exprs => ChunkExprs.ChunkKeyParse(exprs.head)),
    "explode_chunk" -> (exprs => ChunkExprs.explodeChunkBuilder(exprs)),
    "vec_dot" -> (exprs => VectorExprs.DotProduct(exprs(0), exprs(1))),
    "vec_cosine" -> (exprs => VectorExprs.CosineSim(exprs(0), exprs(1))),
    "simhash_agg" -> (exprs => SimhashAgg(exprs.head)),
    "zorder_key" -> (exprs => ZOrderExpr.ZOrderKey(exprs(0), exprs(1), exprs(2))),
    "nfkc" -> (exprs => NfkcExpr.Nfkc(exprs.head)))

  /** Install into an already-running session (idempotent). */
  def install(spark: SparkSession): Unit = {
    ChunkExprs.register(spark)
    VectorExprs.register(spark)
    SimhashAgg.register(spark)
    ZOrderExpr.register(spark)
    NfkcExpr.register(spark)
    installVoxelScan(spark)
    // the SQL DDL surface: CREATE TABLE graft.x USING precomputed — the
    // catalog is lazily instantiated on first reference, so setting the
    // conf here is enough (never overrides a user-provided catalog)
    if (!spark.conf.getOption("spark.sql.catalog.graft").isDefined)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.PrecomputedCatalog].getName)
  }

  /** Install the voxel scan's strategy and rule into a session, each once
    * however often this runs — what every `VoxelScan` DataFrame calls. */
  private[graft] def installVoxelScan(spark: SparkSession): Unit = {
    val e = spark.experimental
    e.synchronized {
      if (!e.extraStrategies.contains(VoxelScanStrategy))
        e.extraStrategies = e.extraStrategies :+ VoxelScanStrategy
      if (!e.extraOptimizations.contains(PushBoxFilters))
        e.extraOptimizations = e.extraOptimizations :+ PushBoxFilters
    }
  }
}
