package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Meta
import graft.testutil.SparkSuite
import graft.volume.VoxelBuffer

/** Pins the bytes each demo-store fixture field ingests. The oracle gate
  * cannot see a fixture change: Spark and DuckDB both read the same dumped
  * voxels, so a drifted field still hash-matches. Each field here goes
  * through `ArrayOps.demoVolume`, and the MD5 of its full-extent cutout
  * must equal the digest of the hand-written loops these fields replaced. */
class ArrayOpsFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  import ArrayOps._

  /** The uint16 label buffers of a28 and a34; the others use `demoFill`'s
    * default dtype, so changing it fails their pins too. */
  private def u16(fill: (Int, Int, Int) => Long): VoxelBuffer = demoFill(fill, Meta.TUInt16)

  /** (field name, its demo buffer, MD5 of the ingested bytes). */
  private val pinned: Seq[(String, () => VoxelBuffer, String)] = Seq(
    ("blocks16 (a28 gold)", () => u16(blocks16), "16027c65dc55391c54b6ca69625a5676"),
    ("holedBlocks (a34)", () => u16(holedBlocks), "7d46a8f0a42634123382a34316aabf99"),
    ("predBlocks (a28 pred)", () => u16(predBlocks), "e1981beba5164bbc2679f2ab660c6c5a"),
    ("checker(7) (a33)", () => demoFill(checker(7L)), "6b75a0c40dc214b20f9c9d2cdb7b0540"),
    ("checker(5) (a30)", () => demoFill(checker(5L)), "2bf8ed4076ddc980cd71bb7c7cd556bf"),
    ("modeLabels (a22)", () => demoFill(modeLabels), "3a16b9718fc32c1c7f8f48ef22271301"),
    ("depthMix (a27, a29)", () => demoFill(depthMix), "b7b62f50ca3c6a89e7c5ebd2ef5fbede"),
    ("pillars (a16)", () => demoFill(pillars), "b7cb588b6c409de162fe21f66736b992"),
    ("sparseMask (a17)", () => demoFill(sparseMask), "5d52e5e2c646f4e2b6f3447ca47a8d36"),
    ("denseMask (a18, a37)", () => demoFill(denseMask), "a56a63b1b13c15fd1baad5c0d383c148"),
    ("contactLabels (a20)", () => demoFill(contactLabels), "9ea513c8f0f88afe081068ad7bfcec45"),
    ("supervoxels (a40)", () => demoFill(supervoxels), "2b2cea849f4a7c416b2af88d9a272d04"),
    ("zRamp (a38)", () => demoFill(zRamp), "ff720d49f47dea521b4635ebba337813"),
    ("skewed (a21, a24, a41, a43)", () => demoFill(skewed), "b24c58fdd3e98641485be6e248f852b5"),
    ("skewedEdited (a43)", () => demoFill(skewedEdited), "23854efc6880aa0c9f4be947cb49b803"),
    ("bimodal (a36)", () => demoFill(bimodal), "31b34ffea7a5428ffd440e4c9e8376df"),
    ("roiField (a23)", () => demoFill(roiField), "6d6379603c436b8b08d714795bcd610b"),
    ("pyramidField (a26)", () => demoFill(pyramidField), "86a9307c89540a05e0c9f4641242d284"),
    ("refRamp (a41)", () => demoFill(refRamp), "f3277a3a113fd32c0efcc5945e4e10a1"))

  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  pinned.foreach { case (name, buf, want) =>
    test(s"demo fixture $name ingests its pinned bytes") {
      assert(md5(demoVolume(spark, "pin")(buf()).cutout(demoExtent).bytes) == want)
    }
  }
}
