package graft

import java.io.{PrintWriter, StringWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.spi.ToolProvider

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level class compiled from `src/main` is reached from a
  * production root. jdeps (in-process) lists the class-to-class edges of
  * the main classes directory; a breadth-first search from the roots
  * must visit every top-level class (`Foo$…` counts as `Foo`). Roots:
  *  - the mains and the catalog: `ServeMain`, `SparkEntry`, `Verify`,
  *    `FuzzSql`, `FuzzParametric`;
  *  - every class named in `src/main/resources/META-INF/services/`;
  *  - every class named in a `"graft.…"` string literal in `src/main`
  *    (the `spark.sql.extensions` value, codegen call sites);
  *  - every graft name imported or qualified in `perfbench/src`.
  * A class none of these reach is deleted, not kept "in case". */
class ReachSpec extends AnyFunSuite {

  private val scopes = Seq("graft.", "org.apache.spark.sql.graft.")
  private def inScope(c: String): Boolean = scopes.exists(c.startsWith)
  private def topLevel(c: String): String = c.takeWhile(_ != '$')

  private def sources(dir: Path): Seq[Path] =
    Using.resource(Files.walk(dir))(_.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)

  test("every src/main class is reachable from a production root") {
    val classesDir = Paths.get(ServeMain.getClass.getProtectionDomain
      .getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(classesDir), s"$classesDir is not a classes directory")
    val root = Iterator.iterate(classesDir)(_.getParent).takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail(s"no build.sbt above $classesDir"))

    val universe: Set[String] =
      Using.resource(Files.walk(classesDir))(_.iterator.asScala
        .map(p => classesDir.relativize(p).toString)
        .filter(_.endsWith(".class"))
        .map(r => topLevel(r.stripSuffix(".class").replace(java.io.File.separatorChar, '.')))
        .filter(inScope).toSet)

    val jdeps = ToolProvider.findFirst("jdeps")
      .orElseThrow(() => new IllegalStateException("this JDK ships no jdeps tool"))
    val out = new StringWriter
    val err = new StringWriter
    val rc = jdeps.run(new PrintWriter(out), new PrintWriter(err),
      "-verbose:class", "-filter:none", classesDir.toString)
    assert(rc == 0, s"jdeps exited $rc: $err")
    val Edge = """^\s+(\S+)\s+->\s+(\S+)\s.*$""".r
    val edges: Map[String, Set[String]] = out.toString.linesIterator.collect {
      case Edge(from, to) if inScope(from) && inScope(to) => (topLevel(from), topLevel(to))
    }.toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    assert(edges.nonEmpty, "jdeps reported no edges between graft classes")

    // longest dotted prefix of `path` that names a top-level class
    def resolve(path: String): Option[String] = {
      val parts = path.split('.')
      (parts.length to 2 by -1).iterator.map(parts.take(_).mkString("."))
        .find(universe)
    }

    val mains = Seq("ServeMain", "SparkEntry", "Verify", "FuzzSql", "FuzzParametric")
      .map("graft." + _)
    mains.foreach(m => assert(universe(m), s"root $m is not a compiled class"))

    val serviceNames =
      Using.resource(Files.list(root.resolve("src/main/resources/META-INF/services")))(
        _.iterator.asScala.toList)
        .flatMap(p => Files.readAllLines(p).asScala)
        .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)

    val Literal = """"((?:org\.apache\.spark\.sql\.)?graft(?:\.\w+)+)""".r
    val literalNames = sources(root.resolve("src/main/scala"))
      .flatMap(p => Literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))

    // `graft.a.B`, `graft.a.{B, C => D}`, `org.apache.spark.sql.graft.X`
    val Qualified =
      """\b((?:org\.apache\.spark\.sql\.)?graft(?:\.\w+)*)(?:\.\{([^}]*)\})?""".r
    val perfbenchNames = sources(root.resolve("perfbench/src")).flatMap { p =>
      Qualified.findAllMatchIn(Files.readString(p)).flatMap { m =>
        Option(m.group(2)) match {
          case Some(sel) => sel.split(',').map(s => m.group(1) + "." + s.split("=>")(0).trim)
          case None => Seq(m.group(1))
        }
      }
    }

    val roots = (mains ++ serviceNames ++ literalNames ++ perfbenchNames)
      .flatMap(resolve).toSet
    var reached = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(edges.getOrElse(_, Set.empty)) -- reached
      reached ++= frontier
    }
    val unreached = (universe -- reached).toSeq.sorted
    if (unreached.nonEmpty) fail(
      s"${unreached.size} src/main classes are reached from no production root " +
        s"(delete them, or wire them into a root):\n  ${unreached.mkString("\n  ")}")
  }
}
