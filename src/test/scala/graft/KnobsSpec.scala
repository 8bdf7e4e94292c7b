package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Allow-list of the `SPARK_GRAFT_*` environment knobs production code may
  * read. Each one is a deployment setting or a harness argument; an A/B arm
  * selected by an env toggle is not a knob — once its verdict is recorded
  * the losing form leaves the code. Adding a knob means editing `Kept`. */
class KnobsSpec extends AnyFunSuite {

  private val Kept = Set(
    "SPARK_GRAFT_CONF",          // extra Spark conf pairs for a deployment
    "SPARK_GRAFT_CPUS",          // local[N] core count
    "SPARK_GRAFT_ONLY",          // Bench query subset
    "SPARK_GRAFT_PREFIX_SHARDS", // q220 verify shard count override
    "SPARK_GRAFT_PREV_BENCH",    // Bench's comparison baseline file
    "SPARK_GRAFT_SF_DIR",        // fixture directory
    "SPARK_GRAFT_STREAM_REPEAT", // StreamProfileMain cell repeats
    "SPARK_GRAFT_SWEEPS")        // Bench sweep selection

  test("src/main reads exactly the allow-listed SPARK_GRAFT_* knobs") {
    // sbt runs forked tests in the project's base directory
    val srcMain = Paths.get("src/main")
    assert(Files.isDirectory(srcMain.resolve("scala/graft")), s"no src/main under ${Paths.get("").toAbsolutePath}")
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val walk = Files.walk(srcMain)
    val files =
      try walk.iterator.asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = files.flatMap { p =>
      knob.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).map(_ -> p.getFileName.toString)
    }
    val unknown = found.filterNot(f => Kept(f._1)).distinct
    assert(unknown.isEmpty, "— knobs outside the allow-list")
    assert(found.map(_._1).toSet == Kept, "an allow-listed knob is no longer read")
  }
}
