package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Grid, Meta}
import graft.volume.ChunkStore

/** DataSource V2 connector for the neuroglancer-"precomputed" chunk layout:
  * the store appears as a chunk table
  * `(mip, cx, cy, cz, x0, x1, y0, y1, z0, z1, key, blob)`.
  *
  * This is the engine's equivalent of the reference's backend dictionaries +
  * key iteration (reference: src/backends/, src/ChunkIterators.jl), done the
  * Spark way:
  *  - **filter pushdown** on cx/cy/cz (and the box columns) prunes chunks
  *    before any object is touched — the reference's "only enumerate
  *    intersecting chunks" planning (src/ChunkIterators.jl:20-24) expressed
  *    as `SupportsPushDownFilters`;
  *  - **column pruning**: a scan that doesn't need `blob` never fetches an
  *    object — `count(*)`/key listings are metadata-only
  *    (`SupportsPushDownRequiredColumns`);
  *  - **write support**: each row becomes one store object under its
  *    canonical chunk key.
  *
  * Usage: `spark.read.format("precomputed").option("mip", "1").load(root)`;
  * from SQL, register the layer in the [[PrecomputedCatalog]]
  * (`CREATE TABLE graft.vol USING precomputed OPTIONS (path '...')`) and
  * query `graft.vol` — Spark's direct `format.`path`` SQL syntax is
  * file-source-only.
  */
class PrecomputedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "precomputed"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PrecomputedTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("precomputed: 'path' is required"))
    // no "mip" option → the table spans the whole pyramid (all scales)
    new PrecomputedTable(path, Option(properties.get("mip")).map(_.toInt))
  }
}

object PrecomputedTable {
  val Schema: StructType = StructType(Seq(
    StructField("mip", IntegerType, nullable = false),
    StructField("cx", IntegerType, nullable = false),
    StructField("cy", IntegerType, nullable = false),
    StructField("cz", IntegerType, nullable = false),
    StructField("x0", IntegerType, nullable = false),
    StructField("x1", IntegerType, nullable = false),
    StructField("y0", IntegerType, nullable = false),
    StructField("y1", IntegerType, nullable = false),
    StructField("z0", IntegerType, nullable = false),
    StructField("z1", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("blob", BinaryType, nullable = true)))
}

class PrecomputedTable(root: String, mipOpt: Option[Int]) extends Table
    with SupportsRead with SupportsWrite {

  private lazy val meta: Meta.VolumeMeta = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = ChunkStore.fs(root, conf)
    val raw = ChunkStore.read(fs, root, "info")
    Meta.parse(new String(graft.core.Codec.GzipCodec.decode(raw), "UTF-8"))
  }

  /** (mip, scale) pairs this table exposes. */
  private def mips: Seq[(Int, Meta.ScaleMeta)] = mipOpt match {
    case Some(m) => Seq(m -> meta.scale(m))
    case None => meta.scales.indices.map(i => (i + 1) -> meta.scales(i))
  }

  override def name(): String = s"precomputed.`$root`"
  override def schema(): StructType = PrecomputedTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PrecomputedScanBuilder(root, mips, Option(options.get("planning")))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new PrecomputedWriteBuilder(root, mips, info.schema())
}

/** Chunk-id (and mip) bounds pushed down from Catalyst filters. */
final case class IdBounds(
    var cxLo: Int = Int.MinValue, var cxHi: Int = Int.MaxValue,
    var cyLo: Int = Int.MinValue, var cyHi: Int = Int.MaxValue,
    var czLo: Int = Int.MinValue, var czHi: Int = Int.MaxValue,
    var mipLo: Int = Int.MinValue, var mipHi: Int = Int.MaxValue) extends Serializable {
  def accepts(cx: Int, cy: Int, cz: Int): Boolean =
    cx >= cxLo && cx <= cxHi && cy >= cyLo && cy <= cyHi && cz >= czLo && cz <= czHi
  def acceptsMip(m: Int): Boolean = m >= mipLo && m <= mipHi
}

class PrecomputedScanBuilder(root: String, mips: Seq[(Int, Meta.ScaleMeta)],
    planning: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private val bounds = IdBounds()
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = PrecomputedTable.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(tryPush)
    pushed = accepted
    // pushed filters are exact (we fully enforce the bound), so they need
    // not be re-evaluated — but returning them is also fine; we return only
    // the rejected ones as post-scan filters.
    rejected
  }

  private def tryPush(f: Filter): Boolean = f match {
    case EqualTo(a, v: Int) if isId(a) => setLo(a, v); setHi(a, v); true
    case GreaterThan(a, v: Int) if isId(a) => setLo(a, v + 1); true
    case GreaterThanOrEqual(a, v: Int) if isId(a) => setLo(a, v); true
    case LessThan(a, v: Int) if isId(a) => setHi(a, v - 1); true
    case LessThanOrEqual(a, v: Int) if isId(a) => setHi(a, v); true
    case And(l, r) => val a = tryPush(l); val b = tryPush(r); a && b
    case _ => false
  }

  private def isId(a: String): Boolean =
    a == "cx" || a == "cy" || a == "cz" || a == "mip"

  private def setLo(a: String, v: Int): Unit = a match {
    case "cx" => bounds.cxLo = math.max(bounds.cxLo, v)
    case "cy" => bounds.cyLo = math.max(bounds.cyLo, v)
    case "cz" => bounds.czLo = math.max(bounds.czLo, v)
    case "mip" => bounds.mipLo = math.max(bounds.mipLo, v)
  }
  private def setHi(a: String, v: Int): Unit = a match {
    case "cx" => bounds.cxHi = math.min(bounds.cxHi, v)
    case "cy" => bounds.cyHi = math.min(bounds.cyHi, v)
    case "cz" => bounds.czHi = math.min(bounds.czHi, v)
    case "mip" => bounds.mipHi = math.min(bounds.mipHi, v)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new PrecomputedScan(root, mips, bounds, required, planning)
}

object PrecomputedScan {
  /** Grid size beyond which an UNBOUNDED metadata scan switches from
    * probe-every-cell to listing the scale (auto planning). Below it the
    * arithmetic probe grid is cheap and parallelizes better. */
  val ListingThreshold = 4096L

  /** Listing shards: chunk keys start with the 0-based x0 ordinate
    * (`boxKey`: `"${x.lo - 1}-..."`), and the grid makes every possible x0
    * enumerable as `(cx-1)·csx + ox` — so the scale directory partitions
    * into EXACT per-x-column prefix LISTs, one bounded glob per chunk
    * column. Fan-out therefore scales with store width (r4 review: the old
    * leading-DIGIT shards capped parallelism at 11 regardless of size)
    * while staying O(objects) total: every object is matched by exactly one
    * glob, and planning work is O(x-columns) strings — bounded by
    * cells^(1/3), never by cell or object count. */
  def listingGlobs(ids: Grid.IdRanges, csx: Int, ox: Int): Seq[String] =
    (ids.lox to ids.hix).map(cx => s"${(cx - 1) * csx + ox}-*")

  /** Cap on listing tasks per scale: above it consecutive columns share a
    * task (each task then runs several bounded LISTs). Scales with the
    * session's core count; the floor keeps narrow test/laptop sessions from
    * serializing a wide store's listing. */
  def maxListingTasks(parallelism: Int): Int = math.max(parallelism * 4, 32)
}

class PrecomputedScan(root: String, mips: Seq[(Int, Meta.ScaleMeta)],
    bounds: IdBounds, required: StructType, planning: Option[String] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PrecomputedScan(root=$root, mips=${mips.map(_._1).mkString(",")}, bounds=$bounds, cols=${required.fieldNames.mkString(",")}, planning=${planning.getOrElse("auto")})"

  private def unbounded: Boolean =
    bounds.cxLo == Int.MinValue && bounds.cxHi == Int.MaxValue &&
      bounds.cyLo == Int.MinValue && bounds.cyHi == Int.MaxValue &&
      bounds.czLo == Int.MinValue && bounds.czHi == Int.MaxValue

  override def planInputPartitions(): Array[InputPartition] = {
    // Two planning modes, the reference's two enumeration strategies:
    //  - PROBE (default for pruned reads — the hot path): the chunk grid is
    //    derived arithmetically from `volumeBox ∩ pushed id bounds`
    //    (src/ChunkIterators.jl:20-24); partitions are linear-id spans, so
    //    planning is O(partitions) at any store size and executors probe
    //    each cell's key, skipping missing objects.
    //  - LISTING (the reference's `keys` + key-parse enumeration,
    //    src/backends/S3Dicts.jl:100-118 / src/Indexes.jl:96-106): stream
    //    the scale's object names and parse chunk ids out of the keys —
    //    O(objects) work instead of O(grid cells) probes. Auto-selected for
    //    UNBOUNDED metadata scans of large grids, where a mostly-empty
    //    (sparse) store would otherwise pay an existence probe per empty
    //    cell; blob scans keep the probe grid (object reads dominate and
    //    the id spans parallelize them). The listing is sharded into one
    //    bounded prefix LIST per x chunk column (see listingGlobs), so
    //    LIST fan-out grows with store width; override with
    //    .option("planning", "probe"|"listing").
    val needBlob = required.fieldNames.contains("blob")
    val parallelism = SparkSession.active.sparkContext.defaultParallelism
    mips.filter { case (m, _) => bounds.acceptsMip(m) }.flatMap { case (m, scale) =>
      val full = Grid.idRanges(scale.volumeBox, scale.chunkSize, scale.voxelOffset)
      val ids = Grid.IdRanges(
        math.max(full.lox, bounds.cxLo), math.min(full.hix, bounds.cxHi),
        math.max(full.loy, bounds.cyLo), math.min(full.hiy, bounds.cyHi),
        math.max(full.loz, bounds.czLo), math.min(full.hiz, bounds.czHi))
      if (ids.hix < ids.lox || ids.hiy < ids.loy || ids.hiz < ids.loz) Seq.empty
      else {
        val (csx, csy, csz) = scale.chunkSize
        val grid = ScaleGrid(m, scale.key, csx, csy, csz,
          Grid.gridOffset(scale.voxelOffset._1, csx),
          Grid.gridOffset(scale.voxelOffset._2, csy),
          Grid.gridOffset(scale.voxelOffset._3, csz),
          scale.volumeBox.x.lo, scale.volumeBox.x.hi,
          scale.volumeBox.y.lo, scale.volumeBox.y.hi,
          scale.volumeBox.z.lo, scale.volumeBox.z.hi, ids)
        val useListing = planning match {
          case Some("listing") => true
          case Some("probe") => false
          case _ => unbounded && !needBlob &&
            ids.total > PrecomputedScan.ListingThreshold
        }
        if (useListing) {
          val globs = PrecomputedScan.listingGlobs(ids, csx, grid.ox)
          val per = math.max(1L,
            (globs.size + PrecomputedScan.maxListingTasks(parallelism) - 1L) /
              PrecomputedScan.maxListingTasks(parallelism)).toInt
          globs.grouped(per).map(gs =>
            ListingPartition(grid, bounds, gs): InputPartition).toSeq
        }
        else {
          val slices = math.max(1L, math.min(ids.total, parallelism * 2L))
          val per = (ids.total + slices - 1) / slices
          (0L until ids.total by per).map(s =>
            PrecomputedPartition(grid, s, math.min(s + per, ids.total)): InputPartition)
        }
      }
    }.toArray
  }

  /** The store conf ships once per scan, as a broadcast its tasks share. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new PrecomputedReaderFactory(root, spark.sparkContext.broadcast(
      new ChunkStore.SerializableConf(spark.sessionState.newHadoopConf())), required)
  }
}

/** Per-scale chunk-grid geometry a partition needs to turn linear cell ids
  * into chunk boxes and storage keys with no driver state. */
final case class ScaleGrid(mip: Int, scaleKey: String,
    csx: Int, csy: Int, csz: Int, ox: Int, oy: Int, oz: Int,
    vx0: Int, vx1: Int, vy0: Int, vy1: Int, vz0: Int, vz1: Int,
    ids: Grid.IdRanges) {
  def volumeBox: Grid.Box = Grid.Box(vx0, vx1, vy0, vy1, vz0, vz1)
}

/** A span `[start, end)` of linear cell ids within one scale's pruned grid. */
final case class PrecomputedPartition(grid: ScaleGrid, start: Long, end: Long)
  extends InputPartition

/** A group of per-x-column shards of a scale, enumerated by LISTING the
  * store and parsing chunk keys (reference `keys` + key-parse,
  * src/backends/S3Dicts.jl:100-118) — the sparse-store plan: O(objects),
  * zero existence probes, a bounded prefix LIST per chunk column. */
final case class ListingPartition(grid: ScaleGrid, bounds: IdBounds, globs: Seq[String])
  extends InputPartition

class PrecomputedReaderFactory(root: String,
    conf: Broadcast[ChunkStore.SerializableConf], required: StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case lp: ListingPartition => listingReader(lp)
      case pp: PrecomputedPartition => probeReader(pp)
    }

  /** Row values shared by both readers. */
  private def rowOf(g: ScaleGrid, cx: Int, cy: Int, cz: Int, box: Grid.Box,
      keyName: String, blob: Array[Byte]): InternalRow = {
    val values = required.fieldNames.map {
      case "mip" => g.mip
      case "cx" => cx case "cy" => cy case "cz" => cz
      case "x0" => box.x.lo case "x1" => box.x.hi
      case "y0" => box.y.lo case "y1" => box.y.hi
      case "z0" => box.z.lo case "z1" => box.z.hi
      case "key" => UTF8String.fromString(keyName)
      case "blob" => blob
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  private def listingReader(p: ListingPartition): PartitionReader[InternalRow] = {
    val g = p.grid
    val needBlob = required.fieldNames.contains("blob")
    new PartitionReader[InternalRow] {
      private lazy val fs = ChunkStore.fs(root, conf.value.conf)
      private lazy val names =
        p.globs.iterator.flatMap(ChunkStore.globNames(fs, root, g.scaleKey, _))
      private var cx = 0; private var cy = 0; private var cz = 0
      private var box: Grid.Box = _
      private var keyName: String = _
      private var blob: Array[Byte] = _

      /** Accept `name` if it parses as a chunk key inside the pushed
        * bounds; fills the row state. */
      private def accept(name: String): Boolean =
        Grid.parseKey(name) match {
          case Some(b) =>
            cx = Grid.chunkIdOf(b.x.lo, g.csx, g.ox)
            cy = Grid.chunkIdOf(b.y.lo, g.csy, g.oy)
            cz = Grid.chunkIdOf(b.z.lo, g.csz, g.oz)
            if (!p.bounds.accepts(cx, cy, cz)) false
            else {
              box = b; keyName = name
              if (needBlob) blob = ChunkStore.read(fs, root, s"${g.scaleKey}/$name")
              true
            }
          case None => false // info/sidecar names are not chunk keys
        }

      override def next(): Boolean = {
        while (names.hasNext) { if (accept(names.next())) return true }
        false
      }

      override def get(): InternalRow = rowOf(g, cx, cy, cz, box, keyName, blob)
      override def close(): Unit = ()
    }
  }

  private def probeReader(p: PrecomputedPartition): PartitionReader[InternalRow] = {
    val g = p.grid
    val needBlob = required.fieldNames.contains("blob")
    new PartitionReader[InternalRow] {
      private lazy val fs = ChunkStore.fs(root, conf.value.conf)
      private lazy val prober = new ChunkStore.SuffixProber(fs, root)
      private var id = p.start - 1
      private var box: Grid.Box = _
      private var keyName: String = _
      private var blob: Array[Byte] = _

      /** Probe cell `i`; fills box/keyName/blob when the object exists.
        * Stores may carry a ".gz" suffix on keys (reference accepts both,
        * src/Indexes.jl:96-106); the prober resolves the store's spelling
        * from the first hit so each later absent cell costs ONE probe. */
      private def probe(i: Long): Boolean = {
        val (cx, cy, cz) = g.ids.coords(i)
        val chunkBox = Grid.Box(
          Grid.chunkIval(cx, g.csx, g.ox),
          Grid.chunkIval(cy, g.csy, g.oy),
          Grid.chunkIval(cz, g.csz, g.oz))
        box = Grid.clampHiTo(chunkBox, g.volumeBox)
        val plain = Grid.boxKey(box)
        val path = s"${g.scaleKey}/$plain"
        if (needBlob) {
          prober.readOpt(path) match {
            case Some((b, stored)) =>
              blob = b; keyName = plain + stored.stripPrefix(path); true
            case None => blob = null; false
          }
        } else prober.resolve(path) match {
          case Some(stored) => keyName = plain + stored.stripPrefix(path); true
          case None => false
        }
      }

      override def next(): Boolean = {
        id += 1
        while (id < p.end && !probe(id)) id += 1
        id < p.end
      }

      override def get(): InternalRow = {
        val (cx, cy, cz) = g.ids.coords(id)
        rowOf(g, cx, cy, cz, box, keyName, blob)
      }
      override def close(): Unit = ()
    }
  }
}

// ---------------- write path ----------------

class PrecomputedWriteBuilder(root: String, mips: Seq[(Int, Meta.ScaleMeta)],
    schema: StructType) extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new PrecomputedBatchWrite(root, mips.toMap, schema, doTruncate)
  }
}

/** Each input row `(mip, cx, cy, cz, blob)` becomes one object under its
  * canonical chunk key in the row's mip level, clamped to that level's
  * volume box like the reference writer (src/type.jl:165-205). Commit is
  * per-object (last-writer-wins), matching the reference's object-store
  * semantics. */
class PrecomputedBatchWrite(root: String, scales: Map[Int, Meta.ScaleMeta],
    schema: StructType, doTruncate: Boolean = false)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (doTruncate) {
      // overwrite mode: drop the scale directories this table exposes before
      // any task writes, so readers never see a stale/new mix. One recursive
      // delete per scale — the backend batches this (s3a bulk delete / HDFS
      // dir drop); `info` is left intact. Not atomic: like the reference's
      // object stores this is last-writer-wins, and that is documented.
      val conf0 = SparkSession.active.sessionState.newHadoopConf()
      val fs = ChunkStore.fs(root, conf0)
      scales.values.map(_.key).toSet[String].foreach { sk =>
        val dir = new org.apache.hadoop.fs.Path(root, sk)
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }
    // the store conf ships once per write, as a broadcast its tasks share
    val spark = SparkSession.active
    val conf = spark.sparkContext.broadcast(
      new ChunkStore.SerializableConf(spark.sessionState.newHadoopConf()))
    val idx = Map("mip" -> schema.fieldIndex("mip"),
      "cx" -> schema.fieldIndex("cx"), "cy" -> schema.fieldIndex("cy"),
      "cz" -> schema.fieldIndex("cz"), "blob" -> schema.fieldIndex("blob"))
    val scalesB = scales
    val rootB = root
    (partitionId: Int, taskId: Long) => new DataWriter[InternalRow] {
      private lazy val fs = ChunkStore.fs(rootB, conf.value.conf)
      private var written = 0L
      override def write(row: InternalRow): Unit = {
        val m = row.getInt(idx("mip"))
        val scaleB = scalesB.getOrElse(m,
          throw new IllegalArgumentException(s"row mip $m not in this table's scales"))
        val (csx, csy, csz) = scaleB.chunkSize
        val ox = Grid.gridOffset(scaleB.voxelOffset._1, csx)
        val oy = Grid.gridOffset(scaleB.voxelOffset._2, csy)
        val oz = Grid.gridOffset(scaleB.voxelOffset._3, csz)
        val cx = row.getInt(idx("cx")); val cy = row.getInt(idx("cy")); val cz = row.getInt(idx("cz"))
        val chunkBox = Grid.Box(Grid.chunkIval(cx, csx, ox), Grid.chunkIval(cy, csy, oy),
          Grid.chunkIval(cz, csz, oz))
        val clamped = Grid.clampHiTo(chunkBox, scaleB.volumeBox)
        val key = s"${scaleB.key}/${Grid.boxKey(clamped)}"
        ChunkStore.write(fs, rootB, key, row.getBinary(idx("blob")))
        written += 1
      }
      override def commit(): WriterCommitMessage = new WriterCommitMessage {}
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}
