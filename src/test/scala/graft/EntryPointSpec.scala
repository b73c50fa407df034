package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Diagnostics are subcommands of `graft.Probe`, not mains of their own:
  * a new entry point has to be added to this list on purpose.
  */
class EntryPointSpec extends AnyFunSuite {
  test("only Bench, Cli, Probe, ScalingBench, SelfGoldens and Verify define a main") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    val isMain = raw"def main\(|extends App\b".r
    val withMain = sources
      .filter(f => isMain.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(withMain === Set("Bench", "Cli", "Probe", "ScalingBench", "SelfGoldens", "Verify"))
  }
}
