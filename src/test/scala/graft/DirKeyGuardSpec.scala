package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every name derived from a data dir has one owner,
  * [[graft.queries.ArtifactStore]]: roots, exports, parity and fresh
  * tables are keyed by its SHA-256 `dirDigest`, the `gparity` catalog is
  * registered in one place, pay-once exports go through its
  * marker-guarded `ensure`, and fresh tables live only inside an
  * [[graft.queries.IvmWindow]]. This scans the main sources so a query
  * added by copying an old body cannot bring back a 32-bit `hashCode` key,
  * a second catalog registration, a hand-written `_SUCCESS` guard, or an
  * IVM window that leaks its table. */
class DirKeyGuardSpec extends AnyFunSuite {

  private val mainRoot: Path = Iterator
    .iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
    .takeWhile(_ != null)
    .map(_.resolve("src/main/scala"))
    .find(Files.isDirectory(_))
    .getOrElse(fail("src/main/scala not found above the working dir"))

  private lazy val sources: Seq[(Path, Seq[(String, Int)])] = {
    val files = Files.walk(mainRoot)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readAllLines(p).asScala.toSeq.zipWithIndex)
    finally files.close()
  }

  private def hits(files: Seq[(Path, Seq[(String, Int)])],
      re: scala.util.matching.Regex): Seq[String] =
    for ((p, lines) <- files; (l, i) <- lines if re.findFirstIn(l).isDefined)
      yield s"${mainRoot.relativize(p)}:${i + 1}: ${l.trim}"

  test("no path or table is keyed by a 32-bit String.hashCode") {
    val found = hits(sources, """Integer\.toHexString\(\s*[\w.]+\.hashCode""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the gparity catalog is registered only by ArtifactStore") {
    val found = hits(
      sources.filterNot(_._1.endsWith("graft/queries/ArtifactStore.scala")),
      """spark\.sql\.catalog\.gparity""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  // a query that creates or drops a fresh table by hand (an IVM window
  // copied from an old body) would leave its table behind when it throws
  test("only IvmWindow creates, merge-deletes from or drops a fresh table") {
    val found = hits(
      sources.filter(_._1.startsWith(mainRoot.resolve("graft/queries")))
        .filterNot(_._1.endsWith("graft/queries/IvmWindow.scala")),
      """ArtifactStore\.(freshTable|dropTable)\(|WHEN MATCHED THEN DELETE""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no query checks a _SUCCESS file by hand") {
    val found = hits(
      sources.filter(_._1.startsWith(mainRoot.resolve("graft/queries"))),
      """"[^"]*_SUCCESS""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
