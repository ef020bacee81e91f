package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source audit: the native extensions have one install path. Function
  * registration and strategy/rule installation may appear only inside
  * `GraftExtensions.install`, and temp functions not at all, so a second
  * path cannot creep back.
  */
class SingleInstallSpec extends AnyFunSuite {

  private val sources: Seq[(java.nio.file.Path, Vector[String])] =
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => f -> java.nio.file.Files.readAllLines(f).asScala.toVector)

  /** Every (file, 1-based line) containing `needle`. */
  private def hits(needle: String): Seq[(String, Int)] =
    for {
      (f, lines) <- sources
      (l, i)     <- lines.zipWithIndex if l.contains(needle)
    } yield (f.getFileName.toString, i + 1)

  test("function registration and strategy/rule installation live only in install") {
    assert(sources.nonEmpty)
    val Seq((file, start)) = hits("def install(")
    assert(file == "GraftExtensions.scala")
    val lines = sources.collectFirst { case (f, ls) if f.getFileName.toString == file => ls }.get
    // the body runs to the next member definition or the end of the file
    val end = lines.indexWhere(_.matches("""\s*(def|val|class|object) .*"""), start) match {
      case -1 => lines.size
      case n  => n
    }
    assert(hits("createOrReplaceTempFunction").isEmpty, hits("createOrReplaceTempFunction"))
    for (needle <- Seq("functionRegistry.registerFunction", "experimental.extraStrategies =",
           "experimental.extraOptimizations =")) {
      val found = hits(needle)
      assert(found.nonEmpty, s"$needle is gone from install")
      for ((f, line) <- found)
        assert(f == file && line > start && line <= end,
          s"$f:$line: $needle outside GraftExtensions.install")
    }
    assert(hits("extends SparkStrategy").size == 1, hits("extends SparkStrategy"))
  }
}
