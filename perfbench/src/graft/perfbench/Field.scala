package graft.perfbench

import graft.core.Grid.Box
import graft.core.Meta
import graft.volume.VoxelBuffer

/** The benchmark's generator model of a u8 volume: a seeded smooth field
  * (separable per-axis ramps and waves) plus 4 bits of hashed noise, so gzip
  * has real work to do. Every voxel is a pure function of (seed, x, y, z),
  * which makes any cutout checkable byte for byte without a second store. */
final class Field(seed: Long, val shape: (Int, Int, Int)) {
  private val (nx, ny, nz) = shape
  private val rnd = new java.util.SplittableRandom(seed)
  private def axis(n: Int, amp: Double): Array[Int] = {
    val period = 24.0 + rnd.nextDouble() * 80.0
    val phase = rnd.nextDouble() * 2 * math.Pi
    Array.tabulate(n + 1)(i => (amp * math.sin(2 * math.Pi * i / period + phase)).round.toInt)
  }
  private val ax = axis(nx, 40.0)
  private val ay = axis(ny, 35.0)
  private val az = axis(nz, 30.0)
  private val salt = rnd.nextInt()

  /** Voxel value at 1-based global coords inside the volume. */
  @inline def at(x: Int, y: Int, z: Int): Int = {
    var h = x * 0x9E3779B1 ^ y * 0x85EBCA77 ^ z * 0xC2B2AE3D ^ salt
    h ^= h >>> 15; h *= 0x2C1B3C6D; h ^= h >>> 12
    val v = 128 + ax(x) + ay(y) + az(z) + (h & 15) - 8
    if (v < 0) 0 else if (v > 255) 255 else v
  }

  /** The model's content over `box` as a buffer anchored at the box origin. */
  def buffer(box: Box): VoxelBuffer = {
    val b = VoxelBuffer.zeros(Meta.TUInt8, box.x.len, box.y.len, box.z.len, 1,
      (box.x.lo, box.y.lo, box.z.lo))
    val out = b.bytes
    var i = 0
    var z = box.z.lo
    while (z <= box.z.hi) {
      var y = box.y.lo
      while (y <= box.y.hi) {
        var x = box.x.lo
        while (x <= box.x.hi) { out(i) = at(x, y, z).toByte; i += 1; x += 1 }
        y += 1
      }
      z += 1
    }
    b
  }
}
