package graft.sinks

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Size canary for the lake's sources: every file under
  * `src/main/scala/graft/sinks/` stays small enough to review. Reads the
  * files only; no Spark session. */
class SinksFileSizeSpec extends AnyFunSuite {
  private val MaxLines = 1500

  test(s"no file under src/main/scala/graft/sinks exceeds $MaxLines lines") {
    val dir = new File("src/main/scala/graft/sinks")
    val files = Option(dir.listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources found under $dir")
    val tooBig = files.map(f => f.getName -> Files.readAllLines(f.toPath).size)
      .filter(_._2 > MaxLines).sortBy(-_._2)
    assert(tooBig.isEmpty, tooBig.map { case (f, n) => s"$f: $n lines" }
      .mkString("; "))
  }
}
