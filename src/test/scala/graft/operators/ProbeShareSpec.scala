package graft.operators

import graft.SparkTestBase
import org.scalatest.funspec.AnyFunSpec

/** The trained linear probe is a SHARED ARTIFACT (the CentroidShareSpec
  * discipline applied to the GD probe, r14): gradient-descent training
  * must execute once per (session, dir) however many of the six probe
  * consumers run — at 100 TB the weights are a persisted model row,
  * never retrained per query — and an in-place dataset rewrite must
  * invalidate the memo instead of serving stale weights.
  */
class ProbeShareSpec extends AnyFunSpec with SparkTestBase {

  it("trains the probe once across auc + gains + uncertainty consumers") {
    withSfCopy { dir =>
      val before = Similarity.probeRuns.get()
      assert(Similarity.qAucProbe(spark, dir).count() > 0)
      assert(Similarity.qGainsCurve(spark, dir).count() > 0)
      assert(Similarity.qUncertaintySample(spark, dir).count() > 0)
      val runs = Similarity.probeRuns.get() - before
      assert(runs == 1,
        s"probe GD executed $runs times across three consumers on a " +
          "fresh dir; the memoized weights must train exactly once")
      val before2 = Similarity.probeRuns.get()
      Similarity.qAucProbe(spark, dir).count()
      assert(Similarity.probeRuns.get() == before2,
        "re-reading the probe weights retrained the GD loop")
    }
  }

  it("memoized weights equal a fresh probeWeights run bit-for-bit") {
    val fresh = Similarity.probeWeights(spark, sfDir)
      .collect().head.getSeq[Double](0)
    val memo = Similarity.probeWeightsFor(spark, sfDir)
      .collect().head.getSeq[Double](0)
    assert(memo == fresh, "memoized probe weights diverged from a fresh GD run")
  }

  it("an in-place embeddings rewrite invalidates the memo") {
    withTempDir { dir =>
      val src = new java.io.File(sfDir, "embeddings.parquet").toPath
      val dst = new java.io.File(dir, "embeddings.parquet").toPath
      java.nio.file.Files.copy(src, dst)
      val before = Similarity.probeRuns.get()
      val c1 = Similarity.probeWeightsFor(spark, dir.getAbsolutePath).count()
      assert(Similarity.probeRuns.get() - before == 1)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      val c2 = Similarity.probeWeightsFor(spark, dir.getAbsolutePath).count()
      assert(Similarity.probeRuns.get() - before == 2,
        "an in-place rewrite must invalidate the memoized probe weights")
      assert(c1 == c2)
    }
  }
}
