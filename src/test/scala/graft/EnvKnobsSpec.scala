package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the `SPARK_GRAFT_*` environment names the engine's sources read. A
 * new toggle fails this test until it is added here on purpose, with a
 * CHANGES.md line saying why it exists.
 */
class EnvKnobsSpec extends AnyFunSuite {

  private val Pinned = Set(
    // session and data
    "CONF", "CPUS", "LOCAL_DIR", "SCRATCH", "SF_DIR", "SHUFFLE_PARTITIONS",
    // Bench sections, rounds and output
    "SECTIONS", "JSON_PATH", "CRAWL_ROUNDS", "CRAWL_STORE_ROUNDS", "LIFE_STEPS", "SKEW_N",
    "SPIN_N",
    // Bench scaling and store-scaling forks
    "SCALING", "SCALE_DECOMP", "SCALE_MEM", "SCALE_N", "SCALE_REPS", "SCALE_ROUNDS",
    "STORE_SCALE_HOSTS", "STORE_SCALE_PPH", "STORE_SCALE_ROUNDS", "STORE_SCALE_SEEDS",
    "STORE_SCALE_STEPS").map("SPARK_GRAFT_" + _)

  test("the SPARK_GRAFT_* names read under src/main/scala are the pinned set") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(f => "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(Files.readString(f)))
        .toSet
      finally walk.close()
    assert(found == Pinned, s"new: ${found -- Pinned}; gone: ${Pinned -- found}")
    assert(Pinned.size == 24)
  }
}
