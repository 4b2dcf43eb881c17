package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class FixturesSpec extends AnyFunSuite {

  private val jvmRoot = Paths.get(sys.props("java.io.tmpdir"),
    s"graft_${ProcessHandle.current().pid()}")

  test("once: build runs once across two calls") {
    var builds = 0
    def fixture() = Fixtures.once("spec_once", "/data/sf0.001") { d =>
      builds += 1
      Files.writeString(Paths.get(d, "part"), "x")
    }
    val a = fixture()
    val b = fixture()
    assert(a == b && builds == 1)
    assert(Files.readString(Paths.get(a, "part")) == "x")
  }

  test("once: a build that throws leaves no marker and runs again") {
    var builds = 0
    def fixture(fail: Boolean) = Fixtures.once("spec_retry", "dir") { d =>
      builds += 1
      Files.writeString(Paths.get(d, s"attempt$builds"), "x")
      if (fail) throw new IllegalStateException("build failed")
    }
    intercept[IllegalStateException](fixture(fail = true))
    val d = fixture(fail = false)
    assert(builds == 2)
    // the retry starts from an empty directory
    assert(!Files.exists(Paths.get(d, "attempt1")) && Files.exists(Paths.get(d, "attempt2")))
    fixture(fail = true)
    assert(builds == 2)
  }

  test("fresh: a new empty directory on every call") {
    val a = Fixtures.fresh("spec_fresh")
    val b = Fixtures.fresh("spec_fresh")
    assert(a != b)
    assert(Files.list(Paths.get(a)).count() == 0)
  }

  test("every fixture root sits under the per-JVM directory") {
    assert(Paths.get(Fixtures.root) == jvmRoot)
    val dirs = Seq(Fixtures.once("spec_under", "/data/x")(_ => ()), Fixtures.fresh("spec_under"))
    for (d <- dirs) assert(Paths.get(d).normalize.startsWith(jvmRoot), d)
  }
}
