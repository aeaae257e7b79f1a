package graft

import java.io.File
import java.nio.file.Files

/** [[Graft.scratchPath]] naming, [[Graft.scratchDir]] emptying and the
  * [[Graft.scratchFixture]] build-once cache.
  */
class ScratchDirSpec extends SparkSpec {

  test("scratchPath: same basename under different parents → different paths") {
    val a = Graft.scratchPath("/data/one/sf0.1", "spec")
    val b = Graft.scratchPath("/data/two/sf0.1", "spec")
    assert(a != b)
    Seq(a, b).foreach(p =>
      assert(new File(p).getName.startsWith("graft_spec_sf0.1_")))
  }

  test("scratchPath: the same dir gets the same path on every call") {
    val dir = tempDir("data")
    assert(Graft.scratchPath(dir, "spec") == Graft.scratchPath(dir, "spec"))
    assert(Graft.scratchPath(dir, "spec") != Graft.scratchPath(dir, "other"))
  }

  test("scratchDir: a fresh call leaves an empty directory") {
    val dir = tempDir("data")
    val p = Graft.scratchDir(dir, "spec")
    Files.writeString(new File(p, "left_over").toPath, "x")
    new File(p, "sub").mkdirs()
    assert(Graft.scratchDir(dir, "spec") == p)
    assert(new File(p).isDirectory && new File(p).list().isEmpty)
  }

  test("scratchFixture: a cached fixture is not rebuilt on a second call; " +
      "a failed build is") {
    val dir = tempDir("data")
    val built = scala.collection.mutable.Set.empty[String]
    var builds = 0
    def fixture(fail: Boolean): String =
      Graft.scratchFixture(dir, "spec", built) { p =>
        builds += 1
        if (fail) throw new IllegalStateException("build failed")
        Files.writeString(new File(p, "part").toPath, "x")
      }
    intercept[IllegalStateException](fixture(fail = true))
    assert(built.isEmpty)
    val p = fixture(fail = false)
    assert(p == Graft.scratchPath(dir, "spec") && builds == 2)
    assert(fixture(fail = false) == p && builds == 2)
    assert(new File(p, "part").isFile) // not emptied by the cached call
  }
}
