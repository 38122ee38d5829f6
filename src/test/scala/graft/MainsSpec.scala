package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` ships only the driver-contract mains and the two
  * measurement tools; a one-off probe main belongs in a scratch
  * checkout, not in the library. */
class MainsSpec extends AnyFunSuite {

  test("src/main ships exactly the contract and tool mains") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"not the repository root: ${root.getAbsolutePath}")
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }
    val Obj = """(?m)^\s*(?:private\[\w+\]\s+)?object\s+(\w+)""".r
    val Main = """\bdef\s+main\s*\(""".r
    val mains = sources(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
      val pkg = root.toPath.relativize(f.getParentFile.toPath).toString
        .replace(File.separatorChar, '.')
      Main.findAllMatchIn(src).map { m =>
        // the enclosing object: the last one declared before the main
        val obj = Obj.findAllMatchIn(src.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse(f.getName)
        s"$pkg.$obj".stripPrefix("graft.")
      }
    }
    assert(mains.sorted == Seq("Bench", "Cli", "Explain", "Verify",
      "tools.JobStats", "tools.ScaleGen"))
  }
}
