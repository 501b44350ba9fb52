package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.util.Fs

/** [[Fixtures.once]]: one build per (name, input dir), a scratch dir
  * registered for exit deletion before the build runs, and nothing left
  * behind by a build that throws. The exit deletion itself never runs
  * here — later suites in this JVM still read memoized fixtures. */
class FixturesSpec extends SparkSpec {

  test("once builds one value per (name, input dir)") {
    val builds = new AtomicInteger
    def get(dir: String): String =
      Fixtures.once("spec-memo", dir) { p => builds.incrementAndGet(); p }
    val a = get("/in/a")
    assert(get("/in/a") == a)
    assert(builds.get == 1)
    val b = get("/in/b")
    assert(b != a && builds.get == 2)
  }

  test("concurrent callers of one key share a single build") {
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val got = (1 to 4).map(_ => pool.submit(() =>
        Fixtures.once("spec-race", "/in/a") { p =>
          builds.incrementAndGet()
          Thread.sleep(50)
          p
        })).map(_.get)
      assert(got.distinct.size == 1)
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("a build that throws leaves no scratch dir and memoizes nothing") {
    var failed: String = null
    intercept[IllegalStateException] {
      Fixtures.once("spec-fail", "/in/a") { p =>
        failed = p
        Files.write(Paths.get(p, "partial"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
    }
    assert(failed != null && !new File(failed).exists)
    assert(!Fixtures.scratchDirs.contains(failed))
    val rebuilt = Fixtures.once("spec-fail", "/in/a") { p => p }
    assert(rebuilt != failed && new File(rebuilt).isDirectory)
  }

  test("a scratch dir is in the exit-deletion set before its build runs") {
    val registered = Fixtures.once("spec-registered", "/in/a") { p =>
      Fixtures.scratchDirs.contains(p)
    }
    assert(registered)
  }

  test("q199 leaves no graft-* temp dir outside the exit-deletion set") {
    // a private input dir so q199 builds here even if another suite
    // already memoized its fixture for the shared test data
    val in = Files.createTempDirectory("fixtures_spec_in_")
    try {
      Files.copy(Paths.get("/root/testdata/sf0.001/lineitem.parquet"),
        in.resolve("lineitem.parquet"))
      val tmp = new File(System.getProperty("java.io.tmpdir"))
      def graftDirs(): Set[String] =
        Option(tmp.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
          .map(_.getAbsolutePath).toSet
      val before = graftDirs()
      ExtQueries.q199CatalogAutoPrune(spark, in.toString).count()
      val created = graftDirs() -- before
      assert(created.exists(_.contains("/graft-v2prune-")), created)
      val registered = Fixtures.scratchDirs.asScala
      assert(created.forall(registered), created -- registered)
    } finally Fs.deleteRecursively(in.toFile)
  }
}
