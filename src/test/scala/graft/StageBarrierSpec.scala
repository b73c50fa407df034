package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The forward stages materialize only through `Forward.Call.barrier`,
  * the per-query kernels of `graft.query` group only through
  * `PerQuery.kernel`, and the tile rows are read only through
  * `TileLookup.probe`, so the per-call materialization policy, the kernel
  * partitioning rule and the tile access each have one place to change.
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

  /** The 0-based line range, exclusive, of the body of the definition
    * whose line contains `header`: up to the next line indented no deeper.
    */
  private def body(lines: Vector[String], header: String): (Int, Int) = {
    val start = lines.indexWhere(_.contains(header))
    assert(start >= 0, s"no line contains '$header'")
    val indent = lines(start).takeWhile(_ == ' ').length
    val end = lines.indexWhere(l =>
      l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent, start + 1)
    (start, end)
  }

  test("localCheckpoint appears in the forward stage files only inside the barrier helper") {
    val hits = for {
      f <- stageFiles
      (l, i) <- code(f).zipWithIndex if l.contains("localCheckpoint")
    } yield (f.getFileName.toString, i)
    val (start, end) = body(code(stageFiles.head), "def barrier(")
    assert(hits.nonEmpty)
    assert(hits.forall { case (file, i) =>
      file == "Forward.scala" && i > start && i < end
    }, s"localCheckpoint outside the barrier (file, 0-based line): $hits")
  }

  test("no query path reads the tile rows but through the one tile-lookup probe") {
    val queryFiles = Files.list(Paths.get("src/main/scala/graft/query")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector
    val unified = for {
      f <- queryFiles
      (l, i) <- code(f).zipWithIndex if l.contains("allTileFeatures")
    } yield (f.getFileName.toString, i)
    assert(unified.isEmpty, s"allTileFeatures read in graft.query (file, 0-based line): $unified")
    val mainFiles = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector
    val zips = for {
      f <- mainFiles
      (l, i) <- code(f).zipWithIndex if l.contains("zipPartitions")
    } yield (f.getFileName.toString, i)
    val helper = Paths.get("src/main/scala/graft/index/TileLookup.scala")
    val (start, end) = body(code(helper), "def probe[")
    assert(zips.nonEmpty)
    assert(zips.forall { case (file, i) =>
      file == "TileLookup.scala" && i >= start && i < end
    }, s"zipPartitions outside TileLookup.probe (file, 0-based line): $zips")
  }

  test("groupByKey and flatMapGroups appear in graft.query only inside the per-query kernel helper") {
    val grouping = "\\b(groupByKey|flatMapGroups|mapGroups)\\b".r
    val queryFiles = Files.list(Paths.get("src/main/scala/graft/query")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
    val hits = for {
      f <- queryFiles
      (l, i) <- code(f).zipWithIndex if grouping.findFirstIn(l).isDefined
    } yield (f.getFileName.toString, i)
    val helper = Paths.get("src/main/scala/graft/query/PerQuery.scala")
    val (start, end) = body(code(helper), "def kernel[")
    assert(hits.nonEmpty)
    assert(hits.forall { case (file, i) =>
      file == "PerQuery.scala" && i >= start && i < end
    }, s"grouping outside PerQuery.kernel (file, 0-based line): $hits")
  }
}
