package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify`'s JSON artifacts must parse back to exactly what was
  * written, whatever characters a catalog's oracle SQL holds.
  */
class VerifySpec extends AnyFunSuite {

  test("oracle SQL with quotes, backslashes and control characters round-trips") {
    val sql    = "SELECT \"a\\b\"\tFROM t\r\nWHERE x = '\u0001'"
    val oracle = Map("q_odd" -> sql, "q_plain" -> "SELECT 1")
    val f      = java.io.File.createTempFile("oracle_sql", ".json")
    try {
      Verify.writeJson(f.getPath, oracle)
      val text = java.nio.file.Files.readString(f.toPath)
      assert(!text.exists(c => c < ' ' && c != '\n'),
        s"an unescaped control character reached the file: $text")
      val back = new ObjectMapper().registerModule(DefaultScalaModule)
        .readValue(f, classOf[Map[String, String]])
      assert(back == oracle)
    } finally f.delete()
  }
}
