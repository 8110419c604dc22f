package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Grid
import graft.core.Grid.{Box, Ival}
import graft.volume.{ChunkStore, VolumeCtx, Volume, VoxelBuffer}

/** The voxel view as a first-class Catalyst citizen.
  *
  * `Volume.voxels()` produces a [[VoxelScan]] leaf covering the whole
  * physical volume. The [[PushBoxFilters]] optimizer rule narrows that box
  * from x/y/z range predicates sitting above it — so
  * `vol.voxels().filter($"x" between (a, b))` fetches only intersecting
  * chunks, reproducing the reference's exact chunk pruning
  * (reference: src/ChunkIterators.jl:20-24) as a Catalyst rewrite. The
  * residual filter still runs, so semantics never depend on the rule firing.
  *
  * This is the (LogicalPlan + Rule + Strategy + Exec) stack from
  * SURVEY.md §4, registered through [[GraftExtensions]].
  */
final case class VoxelScan(ctx: VolumeCtx, box: Box, output: Seq[Attribute])
    extends LeafNode {
  override def simpleString(maxFields: Int): String =
    s"VoxelScan ${ctx.root} box=[${box.x.lo}..${box.x.hi}, ${box.y.lo}..${box.y.hi}, ${box.z.lo}..${box.z.hi}]"
}

/** Narrow a VoxelScan's box using conjunctive x/y/z range predicates above
  * it, and prune its output columns from enclosing Projects. The filter is
  * left in place (exact residual evaluation); only the I/O set shrinks —
  * and when `value` is pruned away entirely, the physical scan skips blob
  * fetch/decode and emits coordinates arithmetically (a `count(*)` or
  * box-extent query touches zero objects). */
object PushBoxFilters extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, scan: VoxelScan) =>
      val narrowed = conjuncts(cond).foldLeft(scan.box)((b, e) => narrow(b, e, scan))
      if (narrowed == scan.box) f else f.copy(child = scan.copy(box = narrowed))
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

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def axisOf(a: Expression, scan: VoxelScan): Option[Char] = a match {
    case attr: AttributeReference if scan.output.exists(_.exprId == attr.exprId) &&
      (attr.name == "x" || attr.name == "y" || attr.name == "z") => Some(attr.name.head)
    case _ => None
  }

  private def lit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, _) => Some(v)
    case _ => None
  }

  private def narrow(b: Box, e: Expression, scan: VoxelScan): Box = {
    def clampLo(bb: Box, ax: Char, v: Int): Box = ax match {
      case 'x' => bb.copy(x = Ival(math.max(bb.x.lo, v), bb.x.hi))
      case 'y' => bb.copy(y = Ival(math.max(bb.y.lo, v), bb.y.hi))
      case 'z' => bb.copy(z = Ival(math.max(bb.z.lo, v), bb.z.hi))
    }
    def clampHi(bb: Box, ax: Char, v: Int): Box = ax match {
      case 'x' => bb.copy(x = Ival(bb.x.lo, math.min(bb.x.hi, v)))
      case 'y' => bb.copy(y = Ival(bb.y.lo, math.min(bb.y.hi, v)))
      case 'z' => bb.copy(z = Ival(bb.z.lo, math.min(bb.z.hi, v)))
    }
    // each comparison may appear attr-first or literal-first; handle both
    // orientations inside one arm (the flipped form mirrors the bound)
    def bound(l: Expression, r: Expression, attrFirst: (Char, Int) => Box,
        litFirst: (Char, Int) => Box): Box =
      (axisOf(l, scan), lit(r)) match {
        case (Some(ax), Some(x)) => attrFirst(ax, x)
        case _ => (axisOf(r, scan), lit(l)) match {
          case (Some(ax), Some(x)) => litFirst(ax, x)
          case _ => b
        }
      }
    e match {
      case GreaterThanOrEqual(l, r) =>
        bound(l, r, (ax, x) => clampLo(b, ax, x), (ax, x) => clampHi(b, ax, x))
      case GreaterThan(l, r) =>
        bound(l, r, (ax, x) => clampLo(b, ax, x + 1), (ax, x) => clampHi(b, ax, x - 1))
      case LessThanOrEqual(l, r) =>
        bound(l, r, (ax, x) => clampHi(b, ax, x), (ax, x) => clampLo(b, ax, x))
      case LessThan(l, r) =>
        bound(l, r, (ax, x) => clampHi(b, ax, x - 1), (ax, x) => clampLo(b, ax, x + 1))
      case EqualTo(l, r) =>
        bound(l, r, (ax, x) => clampHi(clampLo(b, ax, x), ax, x),
          (ax, x) => clampHi(clampLo(b, ax, x), ax, x))
      case _ => b
    }
  }
}

/** Plan a VoxelScan into its physical chunk-fetch execution. */
object VoxelScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case VoxelScan(ctx, box, output) => VoxelScanExec(ctx, box, output) :: Nil
    case _ => Nil
  }
}

/** Physical voxel scan: distributed chunk-task grid → fetch/decode/emit.
  * Same dataflow as Volume.toVoxels, expressed as a native SparkPlan so it
  * composes with any relational operators above it.
  *
  * Emits COLUMNAR batches by default (`supportsColumnar`): voxels are
  * written straight into `OnHeapColumnVector`s, 4096 per batch, and Spark
  * plants its codegen'd `ColumnarToRow` above — the same shape as the
  * vectorized parquet reader, which keeps the per-voxel cost to a few
  * primitive array stores instead of per-row UnsafeRow bookkeeping. The
  * row-at-a-time path is retained (`doExecute`) for plan shapes where the
  * planner declines columnar. */
final case class VoxelScanExec(ctx: VolumeCtx, box: Box, output: Seq[Attribute])
    extends LeafExecNode {

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
    // broadcast once per execution: a task then carries a reference, not a
    // full Configuration to deserialize
    val conf = session.sparkContext.broadcast(
      new ChunkStore.SerializableConf(session.sessionState.newHadoopConf()))
    val ids = Grid.idRanges(query, c.chunkSize, c.voxelOffset)
    val total = if (query.isEmpty) 0L else ids.total
    val parts = math.max(1, math.min(total, session.sparkContext.defaultParallelism * 2L)).toInt
    val tags = tagsOf(output)
    val dtypeTag = dtypeTagOf(c)
    val needValue = tags.contains(4)
    val skipFetch = !needValue && c.fillMissing
    val schema = org.apache.spark.sql.types.StructType(
      output.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
    val numChannels = c.numChannels
    val (mRows, mChunks, mMissing, mBytes) =
      (longMetric("numOutputRows"), longMetric("chunksFetched"),
        longMetric("chunksMissing"), longMetric("bytesFetched"))
    session.sparkContext.range(0L, total, 1, parts).mapPartitions { linearIds =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
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
        // cursor over the current slice's cutout box, (ch, z, y, x) order —
        // identical emission order to the row path
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

  override protected def doExecute(): RDD[InternalRow] = {
    val c = ctx
    val query = box
    val conf = session.sparkContext.broadcast(
      new ChunkStore.SerializableConf(session.sessionState.newHadoopConf()))
    val ids = Grid.idRanges(query, c.chunkSize, c.voxelOffset)
    // a contradictory filter set can narrow the box to negative-length
    // intervals whose span product is positive garbage — emptiness must be
    // decided on the box, not the id count
    val total = if (query.isEmpty) 0L else ids.total
    val parts = math.max(1, math.min(total, session.sparkContext.defaultParallelism * 2L)).toInt
    // pruned-column layout, resolved ONCE to integer tags: this loop runs
    // per voxel, so no string comparison / boxing / row allocation inside
    // (tags: 0=x 1=y 2=z 3=c 4=value; dtypeTag indexes the widened type)
    val tags: Array[Int] = tagsOf(output)
    val dtypeTag: Int = dtypeTagOf(c)
    val needValue = tags.contains(4)
    // coords-only scans under zero-fill semantics never touch the store:
    // rows exist for every in-box voxel regardless of which chunks exist.
    // Strict mode (fillMissing=false) keeps fetching so missing chunks still
    // raise, preserving error semantics.
    val skipFetch = !needValue && c.fillMissing
    val (mRows, mChunks, mMissing, mBytes) =
      (longMetric("numOutputRows"), longMetric("chunksFetched"),
        longMetric("chunksMissing"), longMetric("bytesFetched"))
    session.sparkContext.range(0L, total, 1, parts).mapPartitions { linearIds =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      // one UnsafeRow buffer per partition, rewritten in place per voxel —
      // standard scan-node row reuse (consumers copy when they buffer)
      val writer = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(tags.length)
      writer.resetRowWriter()
      linearIds.flatMap { id =>
        val (cx, cy, cz) = ids.coords(id)
        c.sliceAt(cx, cy, cz, query).iterator.flatMap { s =>
          val bufOpt =
            if (skipFetch) None
            else c.fetchChunk(fs, s) match {
              case Some(blob) =>
                mChunks.add(1); mBytes.add(blob.length)
                Some(c.decodeChunk(s, blob))
              case None if c.fillMissing => mMissing.add(1); None
              case None => throw new ChunkStore.MissingChunkException(c.keyOf(s))
            }
          val buf = bufOpt.orNull
          val cut = s.cutoutBox
          for {
            ch <- (0 until c.numChannels).iterator
            z <- (cut.z.lo to cut.z.hi).iterator
            y <- (cut.y.lo to cut.y.hi).iterator
            x <- (cut.x.lo to cut.x.hi).iterator
          } yield {
            writer.reset()
            var i = 0
            while (i < tags.length) {
              tags(i) match {
                case 0 => writer.write(i, x)
                case 1 => writer.write(i, y)
                case 2 => writer.write(i, z)
                case 3 => writer.write(i, ch)
                case _ =>
                  if (buf == null) dtypeTag match {
                    case 0 => writer.write(i, false)
                    case 1 => writer.write(i, 0.toShort)
                    case 2 => writer.write(i, 0)
                    case 3 => writer.write(i, 0L)
                    case 4 => writer.write(i, Decimal(0L), 20, 0)
                    case 5 => writer.write(i, 0.0f)
                    case _ => writer.write(i, 0.0)
                  } else {
                    val lx = x - buf.origin._1; val ly = y - buf.origin._2; val lz = z - buf.origin._3
                    dtypeTag match {
                      case 0 => writer.write(i, buf.getLong(lx, ly, lz, ch) != 0L)
                      case 1 => writer.write(i, buf.getLong(lx, ly, lz, ch).toShort)
                      case 2 => writer.write(i, buf.getLong(lx, ly, lz, ch).toInt)
                      case 3 => writer.write(i, buf.getLong(lx, ly, lz, ch))
                      case 4 =>
                        val u = buf.getLong(lx, ly, lz, ch)
                        writer.write(i,
                          if (u >= 0) Decimal(u)
                          else Decimal(new java.math.BigDecimal(new java.math.BigInteger(
                            java.lang.Long.toUnsignedString(u)))), 20, 0)
                      case 5 => writer.write(i, buf.getDouble(lx, ly, lz, ch).toFloat)
                      case _ => writer.write(i, buf.getDouble(lx, ly, lz, ch))
                    }
                  }
              }
              i += 1
            }
            // per-emitted-row accounting (a plain local long add), so a
            // partially drained iterator (e.g. LIMIT) reports true counts
            // consistent with the columnar path's per-batch accounting
            mRows.add(1)
            writer.getRow: InternalRow
          }
        }
      }
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
    if (!spark.experimental.extraStrategies.contains(VoxelScanStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ VoxelScanStrategy
    if (!spark.experimental.extraOptimizations.contains(PushBoxFilters))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushBoxFilters
    // the SQL DDL surface: CREATE TABLE graft.x USING precomputed — the
    // catalog is lazily instantiated on first reference, so setting the
    // conf here is enough (never overrides a user-provided catalog)
    if (!spark.conf.getOption("spark.sql.catalog.graft").isDefined)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.PrecomputedCatalog].getName)
  }
}
