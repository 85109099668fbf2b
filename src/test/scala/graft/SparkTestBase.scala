package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared local SparkSession for the whole forked test JVM — session
  * startup is ~5 s, so suites must not build their own.
  */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkTestBase { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Smallest driver-generated dataset — correctness, not throughput. */
  val sfDir = "/root/testdata/sf0.001"

  /** Poll until `cond` holds (the execution-listener bus is async).
    * 30 s default: late in the full suite the shared session's listener
    * bus can lag well past 10 s under co-tenant load — a one-flake-per-
    * hundred-runs class observed on the listener specs. */
  def eventually(timeoutMs: Long = 30000, intervalMs: Long = 20)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(intervalMs); ok = cond
    }
    ok
  }

  def withTempDir[T](f: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test").toFile
    try f(dir)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  /** Runs `f` on a fresh copy of [[sfDir]]: a dir no shared artifact has
    * been built for, so a spec can count builds exactly whatever suites
    * ran before it. */
  def withSfCopy[T](f: String => T): T = withTempDir { dir =>
    val src = java.nio.file.Paths.get(sfDir)
    val paths = java.nio.file.Files.walk(src)
    try paths.forEach { p =>
      val t = dir.toPath.resolve(src.relativize(p).toString)
      if (!java.nio.file.Files.exists(t)) java.nio.file.Files.copy(p, t)
    } finally paths.close()
    f(dir.getAbsolutePath)
  }
}
