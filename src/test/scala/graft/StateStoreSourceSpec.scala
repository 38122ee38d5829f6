package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for the fold state: every `foreachBatch` fold
  * keeps its durable state in the one store family of `LsmState.scala`
  * ([[graft.streaming.LsmState]], [[graft.streaming.BandState]]), and
  * each model's merge is written once, beside its delta, for both its
  * standalone fold and the one-pass suite. */
class StateStoreSourceSpec extends AnyFunSuite {

  private val root = new File("src/main/scala")

  /** `src/main` sources by file name, whitespace removed. */
  private lazy val sources: Seq[(String, String)] = {
    assert(root.isDirectory, s"not the repository root: ${root.getAbsolutePath}")
    def walk(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) walk(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }
    walk(root).map(f => f.getName ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
        .replaceAll("\\s+", ""))
  }

  private def count(src: String, needle: String): Int =
    Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
      .takeWhile(_ >= 0).length

  test("only the state stores publish an atomic pointer") {
    val callers = sources.filter { case (_, src) =>
      count(src, "writeStringAtomic(") > count(src, "defwriteStringAtomic(")
    }.map(_._1)
    assert(callers == Seq("LsmState.scala"),
      s"a pointer store outside LsmState.scala: $callers")
  }

  test("each model merge is defined once") {
    val merges = Seq(
      """groupBy("bg").agg(sum(col("nb")).as("nb"))""",
      """groupBy("token").agg(sum(col("df")).as("df"))""",
      """agg(sum(col("n")).as("n"))""",
      """groupBy("b").agg(sum(col("ct")).as("ct"),sum(col("cr")).as("cr"))""",
      """agg(sum(col("n_copies")).as("n_copies"),min(col("keeper")).as("keeper"))""",
      """groupBy("fp").agg(min(col("m")).as("m"))""",
      """max(col("max_us")).as("max_us")""")
    val all = sources.map(_._2)
    merges.foreach { m =>
      val n = all.map(count(_, m)).sum
      assert(n == 1, s"merge written $n times: $m")
    }
  }
}
