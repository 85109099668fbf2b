package graft.operators

import graft.SparkTestBase
import org.scalatest.funspec.AnyFunSpec

/** The raw-embedding PQ codebooks are a SHARED ARTIFACT (the
  * CentroidShareSpec discipline applied to product quantization, r14):
  * codebook training must execute once per (session, dir) across
  * q_knn_pq and q_knn_recall, equal a fresh training run exactly, and an
  * in-place dataset rewrite must invalidate the memo.
  */
class PqShareSpec extends AnyFunSpec with SparkTestBase {

  it("trains PQ codebooks once across pq + recall consumers") {
    withSfCopy { dir =>
      val before = Similarity.pqRuns.get()
      assert(Similarity.qKnnPq(spark, dir).count() > 0)
      assert(Similarity.qKnnRecall(spark, dir).count() > 0)
      val runs = Similarity.pqRuns.get() - before
      assert(runs == 1,
        s"PQ training executed $runs times across two consumers on a " +
          "fresh dir; the memoized codebooks must train exactly once")
      val before2 = Similarity.pqRuns.get()
      Similarity.qKnnPq(spark, dir).count()
      assert(Similarity.pqRuns.get() == before2,
        "re-reading the codebooks retrained PQ")
    }
  }

  it("an in-place embeddings rewrite invalidates the memo") {
    withTempDir { dir =>
      val src = new java.io.File(sfDir, "embeddings.parquet").toPath
      val dst = new java.io.File(dir, "embeddings.parquet").toPath
      java.nio.file.Files.copy(src, dst)
      val before = Similarity.pqRuns.get()
      val c1 = Similarity.pqCodebooksFor(spark, dir.getAbsolutePath).count()
      assert(Similarity.pqRuns.get() - before == 1)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      val c2 = Similarity.pqCodebooksFor(spark, dir.getAbsolutePath).count()
      assert(Similarity.pqRuns.get() - before == 2,
        "an in-place rewrite must invalidate the memoized codebooks")
      assert(c1 == c2)
    }
  }
}
