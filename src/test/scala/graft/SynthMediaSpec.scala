package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow

/** The real-payload arm of the media near-dup gates: [[Multimodal.synthFrame]]'s
  * pixel-replication contract (every rendered size box-filters back to the
  * same 32×32 grid → bit-equal DCT hashes), its survival through the PNG and
  * animated-GIF containers, and the driver gates actually flowing REAL
  * decoded payloads end to end. */
class SynthMediaSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  test("pixel replication: every rendered size hashes bit-for-bit equal") {
    for (seed <- Seq(1L, 42L, 987654321L, -5L)) {
      val p32 = Multimodal.pHash64(Multimodal.synthFrame(seed, 32))
      assert(p32 == Multimodal.pHash64(Multimodal.synthFrame(seed, 64)))
      assert(p32 == Multimodal.pHash64(Multimodal.synthFrame(seed, 96)))
      // through the PNG container + the real imageDecode path
      val d32 = Multimodal.imageDecode(
        MediaRow(1, "image", "image/png", Multimodal.synthPng(seed, 32)))
      val d64 = Multimodal.imageDecode(
        MediaRow(2, "image", "image/png", Multimodal.synthPng(seed, 64)))
      assert(d32.phash == p32 && d64.phash == p32,
        s"PNG roundtrip must not perturb a single bit (seed $seed)")
      // through the animated-GIF container + the real framePHashes path
      val g32 = Multimodal.framePHashes(
        MediaRow(3, "video", "image/gif", Multimodal.synthGif(seed, 8, 32)), 4)
      val g64 = Multimodal.framePHashes(
        MediaRow(4, "video", "image/gif", Multimodal.synthGif(seed, 8, 64)), 4)
      assert(g32.toSeq == g64.toSeq,
        s"GIF re-encode must hash slot-for-slot equal (seed $seed)")
      assert(g32.distinct.length >= 3, "frames must vary")
    }
  }

  test("q_media_phash_neardup flows REAL decoded payloads: planted PNG pairs surface") {
    val df = SparkEntry.queries("q_media_phash_neardup")(spark, sfDir)
    val real = df.collect().filter(_.getLong(0) >= 3000000000L)
    // a stub fallback CANNOT produce these rows: the 32px and 64px PNGs
    // are different bytes, so their stub hashes differ wildly — only the
    // real DCT path maps them to Hamming 0
    assert(real.length >= 2,
      s"at least two real-decode pairs must flow at sf0.001: ${real.length}")
    assert(real.forall(r => r.getLong(2) == 0L &&
      r.getLong(1) >= 4000000000L))
  }

  test("q_video_phash_neardup flows REAL decoded clips: planted GIF pairs surface") {
    val df = SparkEntry.queries("q_video_phash_neardup")(spark, sfDir)
    val real = df.collect().filter(_.getLong(0) >= 3000000000L)
    assert(real.length >= 1,
      s"at least one real-decode pair must flow at sf0.001: ${real.length}")
    assert(real.forall(r => r.getLong(1) >= 4000000000L &&
      r.getLong(2) == 4L && r.getLong(3) == 0L),
      "real pairs must verify over all 4 slots at ham_sum 0")
  }
}
