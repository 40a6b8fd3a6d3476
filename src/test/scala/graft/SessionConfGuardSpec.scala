package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every session-conf write in `src/main` is either [[SessionConf.withConfs]]
  * or one of the three declared memos; a new hand-rolled write (set
  * here, restore by hand or never) fails this spec. A write is located
  * by the nearest `def` above it. */
class SessionConfGuardSpec extends AnyFunSuite {

  private val write = """\bconf\.(un)?set\(|\b(set|unset)Conf(String)?\(""".r
  private val defName = """\bdef\s+(\w+)""".r

  /** (file name, enclosing def) of each allowed write site. */
  private val allowed = Set(
    "SessionConf.scala" -> "withConfs",
    "SessionConf.scala" -> "useRocksDbStateStore",
    "SessionConf.scala" -> "readNanosAsLong",
    "KeyedTableCatalog.scala" -> "register")

  private def writeSites(root: Path): Seq[(String, String, Int)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      var enclosing = ""
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        defName.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
        if (write.findFirstIn(line).isDefined)
          Some((f.getFileName.toString, enclosing, i + 1))
        else None
      }
    }
  }

  test("session confs in src/main are written only by withConfs and the declared memos") {
    val sites = writeSites(Paths.get("src/main"))
    val stray = sites.filterNot { case (f, d, _) => allowed((f, d)) }
    assert(stray.isEmpty, "session-conf writes outside SessionConf.withConfs " +
      "and the declared memos:\n" +
      stray.map { case (f, d, n) => s"  $f:$n (in def $d)" }.mkString("\n"))
    // the scan itself sees the allowed sites, so it is not vacuous
    assert(sites.map { case (f, d, _) => (f, d) }.toSet === allowed)
  }
}
