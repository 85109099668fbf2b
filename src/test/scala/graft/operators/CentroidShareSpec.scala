package graft.operators

import graft.SparkTestBase
import org.scalatest.funspec.AnyFunSpec

/** The trained IVF quantizer is a SHARED ARTIFACT (the DedupShareSpec
  * discipline applied to k-means): Lloyd training must execute once per
  * (session, dir) however many of the ~9 quantizer consumers run — at
  * 100 TB the centroids are a persisted model table, never retrained
  * per query — and an in-place dataset rewrite must invalidate the memo
  * instead of serving a stale quantizer.
  */
class CentroidShareSpec extends AnyFunSpec with SparkTestBase {

  it("trains Lloyd once across ivf + profile + semantic-dedup consumers") {
    withSfCopy { dir =>
      val before = Similarity.centroidRuns.get()
      assert(Similarity.qKnnIvf(spark, dir).count() > 0)
      assert(Similarity.qKmeansProfile(spark, dir).count() > 0)
      assert(Similarity.qDedupSemantic(spark, dir).count() > 0)
      val runs = Similarity.centroidRuns.get() - before
      assert(runs == 1,
        s"Lloyd training executed $runs times across three consumers on a " +
          "fresh dir; the memoized quantizer must train exactly once")
      val before2 = Similarity.centroidRuns.get()
      Similarity.qKnnIvf(spark, dir).count()
      assert(Similarity.centroidRuns.get() == before2,
        "re-reading the quantizer retrained Lloyd")
    }
  }

  it("an in-place embeddings rewrite invalidates the memo") {
    withTempDir { dir =>
      val src = new java.io.File(sfDir, "embeddings.parquet").toPath
      val dst = new java.io.File(dir, "embeddings.parquet").toPath
      java.nio.file.Files.copy(src, dst)
      val before = Similarity.centroidRuns.get()
      val c1 = Similarity.trainedCentroidsFor(spark, dir.getAbsolutePath).count()
      assert(Similarity.centroidRuns.get() - before == 1)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      val c2 = Similarity.trainedCentroidsFor(spark, dir.getAbsolutePath).count()
      assert(Similarity.centroidRuns.get() - before == 2,
        "an in-place rewrite must invalidate the memoized quantizer")
      assert(c1 == c2)
    }
  }
}
