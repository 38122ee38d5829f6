package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for the vector-search engines: each step they
  * share is written once in `Similarity.scala`, and the operators
  * stage nothing through the driver's local filesystem. */
class VectorSearchSourceSpec extends AnyFunSuite {

  private val operators = new File("src/main/scala/graft/operators")

  /** An operator source by file name, whitespace removed. */
  private def source(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
      .replaceAll("\\s+", "")

  private def count(src: String, needle: String): Int =
    Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
      .takeWhile(_ >= 0).length

  test("each shared vector-search step is written once in Similarity.scala") {
    assert(operators.isDirectory,
      s"not the repository root: ${operators.getAbsolutePath}")
    val src = source(new File(operators, "Similarity.scala"))
    val once = Seq(
      // the ranking tail's bounded-heap top-k
      """topKAgg(score,col("cand_id"),k,dedupIds)""",
      // the exact cosine ranking (every cosine engine's tail)
      """cosine(col("qv"),col("cv"))""",
      // the approximate candidate step of the quantized engines
      """explode(col("top")).as("c")""",
      // the centroid-probe window
      """orderBy(col("csim").desc,col("cell"))""",
      // the IVF-PQ manifest-props parser
      """split(";")""")
    once.foreach { n =>
      assert(count(src, n) == 1, s"written ${count(src, n)} times: $n")
    }
    for (gone <- Seq("topKAgg(cosine(", "defwriteIvfLayout(",
        "defivfAnnFromLayout("))
      assert(count(src, gone) == 0, s"still present: $gone")
  }

  test("no operator stages files through java.nio on the driver") {
    val hits = operators.listFiles().toSeq
      .filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = source(f)
        Seq("createTempDirectory", "java.nio.file.Files")
          .filter(src.contains).map(n => s"${f.getName}: $n")
      }
    assert(hits.isEmpty, s"driver-local file I/O in operators: $hits")
  }
}
