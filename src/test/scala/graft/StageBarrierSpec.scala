package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The forward stages materialize only through `Forward.Call.barrier`, so
  * the per-call materialization policy has one place to change.
  */
class StageBarrierSpec extends AnyFunSuite {
  private val stageFiles =
    Seq("Forward", "Phrasematch", "Spatialmatch", "Verifymatch", "ContextRank")
      .map(n => Paths.get(s"src/main/scala/graft/query/$n.scala"))

  /** The file's lines with comments blanked. */
  private def code(f: Path): Vector[String] =
    Files.readAllLines(f).asScala.toVector.map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else l.replaceAll("//.*$", "")
    }

  test("localCheckpoint appears in the forward stage files only inside the barrier helper") {
    val hits = for {
      f <- stageFiles
      (l, i) <- code(f).zipWithIndex if l.contains("localCheckpoint")
    } yield (f.getFileName.toString, i)
    val fwd = code(stageFiles.head)
    val start = fwd.indexWhere(_.contains("def barrier("))
    assert(start >= 0, "Forward.scala defines the barrier helper")
    val indent = fwd(start).takeWhile(_ == ' ').length
    val end = fwd.indexWhere(l =>
      l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent, start + 1)
    assert(hits.nonEmpty)
    assert(hits.forall { case (file, i) =>
      file == "Forward.scala" && i > start && i < end
    }, s"localCheckpoint outside the barrier (file, 0-based line): $hits")
  }
}
