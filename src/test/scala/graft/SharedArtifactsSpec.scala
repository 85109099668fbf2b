package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funspec.AnyFunSpec

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** The shared-artifact registry's memo policy: what keys an entry, what
  * releases it, and how concurrent and failing builds behave. */
class SharedArtifactsSpec extends AnyFunSpec with SparkTestBase {

  private def touch(dir: java.io.File, table: String, mtime: Long): Unit = {
    val f = new java.io.File(dir, s"$table.parquet")
    if (!f.exists()) java.nio.file.Files.write(f.toPath, Array[Byte](0))
    f.setLastModified(mtime)
  }

  /** A builder that counts its runs and returns a small lazy frame. */
  private final class Counted {
    val runs = new AtomicInteger(0)
    def build(): DataFrame = { runs.incrementAndGet(); spark.range(3).toDF() }
  }

  private def checkpointIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }

  private def storedIds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  it("two names over different tables of one dir do not evict each other") {
    withTempDir { d =>
      val dir = d.getAbsolutePath
      touch(d, "a", 1000000L)
      touch(d, "b", 1000000L)
      val x, y = new Counted
      def both(): Unit = {
        SharedArtifacts(spark, "x", dir, "a")(x.build())
        SharedArtifacts(spark, "y", dir, "b")(y.build())
      }
      both(); both()
      assert(x.runs.get == 1 && y.runs.get == 1)
      // rewriting `a` rebuilds only the artifact keyed on it
      touch(d, "a", 2000000L)
      both()
      assert(x.runs.get == 2 && y.runs.get == 1)
    }
  }

  it("a path entry follows the files of a file, a directory or a glob and releases what it replaces") {
    withTempDir { d =>
      def write(f: java.io.File, line: String, append: Boolean = false): Unit = {
        val w = new java.io.FileWriter(f, append)
        try w.write(line + "\n") finally w.close()
      }
      val file = new java.io.File(d, "catalog.jsonl")
      val parts = new java.io.File(d, "parts")
      parts.mkdir()
      write(file, "{}")
      write(new java.io.File(parts, "part-0.jsonl"), "{}")
      val paths = Seq(file.getAbsolutePath, parts.getAbsolutePath, s"${parts.getAbsolutePath}/*.jsonl")
      val builds = new AtomicInteger(0)
      val released = new java.util.concurrent.ConcurrentLinkedQueue[Object]()
      def get(path: String): Object =
        SharedArtifacts(spark, "value", path) { builds.incrementAndGet(); new Object }(released.add(_))
      val first = paths.map(get)
      assert(paths.map(get).zip(first).forall { case (a, b) => a eq b })
      assert(builds.get == 3 && released.isEmpty)
      // an appended record changes only the file's entry
      write(file, "{}", append = true)
      val second = paths.map(get)
      assert(!(second.head eq first.head) && second.tail.zip(first.tail).forall { case (a, b) => a eq b })
      assert(builds.get == 4 && released.toArray.toSeq == Seq(first.head))
      // a new part file changes the directory's and the glob's entries
      write(new java.io.File(parts, "part-1.jsonl"), "{}")
      val third = paths.map(get)
      assert(third.head eq second.head)
      assert(builds.get == 6 && released.toArray.toSet == Set(first.head, second(1), second(2)))
    }
  }

  it("an in-place rewrite releases the old localCheckpoint entry's blocks") {
    withTempDir { d =>
      val dir = d.getAbsolutePath
      val src = new java.io.File(sfDir, "embeddings.parquet").toPath
      val dst = new java.io.File(d, "embeddings.parquet").toPath
      java.nio.file.Files.copy(src, dst)
      val old = checkpointIds(operators.Similarity.trainedCentroidsFor(spark, dir))
      assert(old.nonEmpty && old.forall(storedIds.contains),
        s"the trained quantizer's checkpoint RDDs $old are not stored")
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      val fresh = checkpointIds(operators.Similarity.trainedCentroidsFor(spark, dir))
      assert(fresh.forall(storedIds.contains))
      assert(eventually()(old.forall(id => !storedIds.contains(id))),
        s"the invalidated quantizer's checkpoint RDDs $old still hold blocks")
    }
  }

  it("a throwing builder leaves no entry and the next call builds") {
    withTempDir { d =>
      val dir = d.getAbsolutePath
      intercept[IllegalStateException] {
        SharedArtifacts(spark, "boom", dir, "t")(throw new IllegalStateException("build failed"))
      }
      val c = new Counted
      SharedArtifacts(spark, "boom", dir, "t")(c.build())
      SharedArtifacts(spark, "boom", dir, "t")(c.build())
      assert(c.runs.get == 1)
    }
  }

  it("two threads asking for one key build once and share the frame") {
    withTempDir { d =>
      val dir = d.getAbsolutePath
      val runs = new AtomicInteger(0)
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val calls = Seq.fill(2)(Future {
          start.await()
          SharedArtifacts(spark, "once", dir, "t") {
            runs.incrementAndGet(); Thread.sleep(300); spark.range(3).toDF()
          }
        })
        start.countDown()
        val Seq(a, b) = Await.result(Future.sequence(calls), 60.seconds)
        assert(runs.get == 1)
        assert(a eq b)
      } finally pool.shutdown()
    }
  }

  it("builds of distinct artifacts do not wait on each other") {
    withTempDir { d =>
      val dir = d.getAbsolutePath
      // `second` is asked for while `first` is building, and `first`'s
      // build finishes only after `second`'s has run: a registry that
      // serialized builds would time out here
      val firstStarted, secondBuilt = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val first = Future {
          SharedArtifacts(spark, "first", dir, "t") {
            firstStarted.countDown()
            assert(secondBuilt.await(30, TimeUnit.SECONDS), "second build never ran")
            spark.range(1).toDF()
          }
        }
        val second = Future {
          firstStarted.await()
          SharedArtifacts(spark, "second", dir, "t") {
            secondBuilt.countDown(); spark.range(1).toDF()
          }
        }
        Await.result(first.zip(second), 60.seconds)
      } finally pool.shutdown()
    }
  }
}
