package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite

class ScratchDirSpec extends AnyFunSuite {

  private def age(p: Path, hours: Long): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis() - hours * 3600 * 1000))

  test("scratch purge removes only old graft-* entries of its own subdirectory") {
    val base = Files.createTempDirectory("scratch-base")
    val owned = Files.createDirectories(base.resolve("graft-scratch"))
    // an old file of another program, beside and inside the owned directory
    val besideForeign = Files.writeString(base.resolve("other-app.tmp"), "x")
    val insideForeign = Files.writeString(owned.resolve("other-app.tmp"), "x")
    val oldGraft = Files.createDirectories(owned.resolve("graft-old-store"))
    Files.writeString(oldGraft.resolve("manifest.json"), "{}")
    val freshGraft = Files.createDirectories(owned.resolve("graft-live-store"))
    Seq(besideForeign, insideForeign, oldGraft).foreach(age(_, 7))

    val made = Udfs.scratchDirIn(base, "graft-test")
    assert(made.getParent == owned && made.getFileName.toString.startsWith("graft-test"))
    assert(Files.exists(besideForeign) && Files.exists(insideForeign),
      "a foreign file was deleted")
    assert(Files.exists(freshGraft), "a young graft-* directory was deleted")
    assert(!Files.exists(oldGraft), "an old graft-* directory survived")
    // a prefix without the graft- mark still gets it, so a later purge can
    // reclaim the directory
    assert(Udfs.scratchDirIn(base, "bench").getFileName.toString.startsWith("graft-bench"))
  }
}
