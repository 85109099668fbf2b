package graft.operators

import graft.SparkTestBase
import org.scalatest.funspec.AnyFunSpec

/** The phash pair-scan memo: q_media_phash and q_media_clusters share
  * ONE banded pair census per (session, dir, fingerprint) — the
  * dedup-verdict memo discipline applied to the media family.
  */
class MediaShareSpec extends AnyFunSpec with SparkTestBase {

  it("the pair scan runs once across both media consumers") {
    withSfCopy { dir =>
      val before = Multimodal.phashRuns.get()
      Multimodal.qMediaPhash(spark, dir).collect()
      Multimodal.qMediaClusters(spark, dir).collect()
      Multimodal.qMediaPhash(spark, dir).collect()
      val runs = Multimodal.phashRuns.get() - before
      assert(runs == 1, s"pair scan ran $runs times on a fresh dir")
    }
  }

  it("an in-place documents rewrite invalidates the memo") {
    withTempDir { dir =>
      val src = new java.io.File(sfDir, "documents.parquet").toPath
      val dst = new java.io.File(dir, "documents.parquet").toPath
      java.nio.file.Files.copy(src, dst)
      val before = Multimodal.phashRuns.get()
      val n1 = Multimodal.qMediaPhash(spark, dir.getAbsolutePath).count()
      assert(Multimodal.phashRuns.get() - before == 1)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      val n2 = Multimodal.qMediaPhash(spark, dir.getAbsolutePath).count()
      assert(Multimodal.phashRuns.get() - before == 2,
        "an in-place rewrite must invalidate the memoized pair census")
      assert(n1 == n2)
    }
  }

  it("the memoized frame and a fresh computation agree row-for-row") {
    val memo = Multimodal.qMediaPhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fresh = Multimodal.phashPairs(graft.Tables.documents(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(memo == fresh)
  }
}
