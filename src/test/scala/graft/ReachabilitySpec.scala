package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds only what runs: every def and type it declares is
  * named by some code line of `src/main` or `perfbench/scala` besides
  * its own declaration, except an explicit allowlist. A fold that
  * leaves its old copy behind, or a deletion that strands a helper,
  * fails here with the file and line of the orphan. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  test("every src/main def and type is named by a code line, bar the allowlist") {
    val main = sources("src/main/scala")
    val bench = sources("perfbench/scala")
    assert(main.size > 10, "src/main sources not found")
    assert(bench.nonEmpty, "perfbench/scala sources not found")
    val (defs, types) = declared(main)
    val stale = (AllowedDefs -- defs) ++ (AllowedTypes -- types)
    assert(stale.isEmpty, s"allowlisted names no longer declared in src/main: $stale")
    val unexpected = orphans(main, bench).filterNot(allowed)
    assert(unexpected.isEmpty, "declared in src/main but named by no code line: " +
      unexpected.map(o => s"${o.at} ${o.kind} ${o.name}").mkString(", "))
  }

  test("a planted orphan def and type are found; comments and overrides do not count") {
    val planted = Seq(
      "Planted.scala" ->
        """object PlantedA {
          |  def used(x: Int): Int = x
          |  private[graft] def plantedOrphan(): Int = 1
          |  override def toString: String = "a"
          |  /** a scaladoc naming plantedOrphan() and PlantedB is no use */
          |  // plantedOrphan()
          |}
          |final class PlantedB
          |object PlantedC { val y = PlantedA.used(1) }
          |""".stripMargin)
    val bench = Seq("Harness.scala" -> "object H { val c = PlantedC.y }")
    assert(orphans(planted, bench).map(o => (o.kind, o.name, o.at)).toSet == Set(
      ("def", "plantedOrphan", "Planted.scala:3"), ("type", "PlantedB", "Planted.scala:8")))
    // the same plant in the real tree is the only news
    val main = sources("src/main/scala")
    val found = orphans(main ++ planted, sources("perfbench/scala") ++ bench)
      .filterNot(allowed)
    assert(found.map(_.name).toSet == Set("plantedOrphan", "PlantedB"))
  }
}

object ReachabilitySpec {
  /** Kept on purpose though no code line names them: the star rounds
    * specs run at sizes where `clusterLabels` takes the driver path, and
    * the build counter the warm-no-rebuild specs read. (The reference
    * twins specs compare against live in `src/test`, `ReferenceTwins`.) */
  val AllowedDefs: Set[String] = Set("starLabels", "builds")
  /** The entry points `sbt runMain` starts by name. */
  val AllowedTypes: Set[String] = Set("Bench", "Verify", "Main", "Explain")

  final case class Orphan(kind: String, name: String, at: String)

  def allowed(o: Orphan): Boolean =
    if (o.kind == "def") AllowedDefs(o.name) else AllowedTypes(o.name)

  /** (file name relative to `root`, text) of every .scala file under it. */
  def sources(root: String): Seq[(String, String)] = {
    val r = Path.of(root)
    Files.walk(r).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(f => r.relativize(f).toString -> Files.readString(f))
  }

  // a declaration that is not an `override` (the framework calls those)
  private val DefDecl =
    """^\s*(?:private(?:\[\w+\])? |protected |final |implicit )*def ([A-Za-z_]\w*)""".r
  private val TypeDecl =
    """^\s*(?:private(?:\[\w+\])? |final |sealed |abstract |implicit )*(?:case )?(?:class|object|trait) ([A-Za-z_]\w*)""".r
  private val DefWord = """\bdef\s+([A-Za-z_]\w*)""".r
  private val TypeWord = """\b(?:class|object|trait)\s+([A-Za-z_]\w*)""".r
  private val Word = """[A-Za-z_]\w*""".r

  /** Lines that start a comment — a scaladoc star, a line comment or a
    * block-comment opener — name nothing. */
  private def codeLines(src: String): Iterator[String] =
    src.linesIterator.filterNot { l =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }

  /** (def names, type names) declared in `main`. */
  def declared(main: Seq[(String, String)]): (Set[String], Set[String]) = {
    val lines = main.flatMap { case (_, src) => codeLines(src) }
    (lines.flatMap(l => DefDecl.findFirstMatchIn(l).map(_.group(1))).toSet,
      lines.flatMap(l => TypeDecl.findFirstMatchIn(l).map(_.group(1))).toSet)
  }

  /** Every def and type declared in `main` whose name occurs on no code
    * line of `main` or `others` beyond its own declarations. */
  def orphans(main: Seq[(String, String)], others: Seq[(String, String)]): Seq[Orphan] = {
    def counts(it: Iterator[String]): Map[String, Int] =
      it.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val mainCode = main.flatMap { case (_, src) => codeLines(src) }
    val uses = counts((mainCode ++ others.flatMap { case (_, src) => codeLines(src) })
      .iterator.flatMap(l => Word.findAllIn(l)))
    val defDecls = counts(mainCode.iterator.flatMap(l => DefWord.findAllMatchIn(l).map(_.group(1))))
    val typeDecls = counts(mainCode.iterator.flatMap(l => TypeWord.findAllMatchIn(l).map(_.group(1))))
    for {
      (file, src) <- main
      (line, n) <- src.linesIterator.zipWithIndex.map { case (l, i) => (l, i + 1) }.toSeq
      (kind, name, decls) <- DefDecl.findFirstMatchIn(line).map(m => ("def", m.group(1), defDecls))
        .orElse(TypeDecl.findFirstMatchIn(line).map(m => ("type", m.group(1), typeDecls)))
      if uses.getOrElse(name, 0) <= decls.getOrElse(name, 0)
    } yield Orphan(kind, name, s"$file:$n")
  }
}
