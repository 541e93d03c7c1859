package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Canary for the one session builder and the one workspace helper: no
  * file under `src/main` makes its own temp dir or delete-on-exit
  * registration (use `Workspace.dir`), and only [[Profile]] and the
  * reference job's main build a session. Reads the files only; no Spark
  * session. */
class HarnessCanarySpec extends AnyFunSuite {

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private val main = sources(new File("src/main"))

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    main.filterNot(f => allowed(f.getName))
      .filter(f => pattern.r.findFirstIn(Files.readString(f.toPath)).nonEmpty)
      .map(_.getPath).sorted

  test("only Workspace makes temp dirs or registers deletes at exit") {
    assert(main.nonEmpty, "no sources found under src/main")
    val bad = offenders("createTempDirectory|deleteOnExit",
      Set("Workspace.scala"))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("only Profile and WeatherEtlMain build a SparkSession") {
    val bad = offenders("""SparkSession\s*\.builder""",
      Set("Profile.scala", "WeatherEtlMain.scala"))
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
