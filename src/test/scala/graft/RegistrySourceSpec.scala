package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for the registry's lookup key: the reader
  * filters the stored key and never re-derives it from `n_number`,
  * and the key's column name and derivation are written once, in
  * `RegistryNormalize.scala`, for the writer and the reader alike. */
class RegistrySourceSpec extends AnyFunSuite {

  private val root = new File("src/main/scala")

  /** `src/main` sources by file name, whitespace removed. */
  private lazy val sources: Map[String, String] = {
    assert(root.isDirectory, s"not the repository root: ${root.getAbsolutePath}")
    def walk(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) walk(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }
    walk(root).map(f => f.getName ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
        .replaceAll("\\s+", "")).toMap
  }

  private def count(src: String, needle: String): Int =
    Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
      .takeWhile(_ >= 0).length

  private def total(needle: String): Map[String, Int] =
    sources.map { case (f, src) => f -> count(src, needle) }.filter(_._2 > 0)

  test("Registry never derives the lookup key from a column") {
    val reg = sources("Registry.scala")
    Seq("normalizeKey", "regexp_replace", "withLookupKey(col", "lookupKey(col")
      .foreach(n => assert(count(reg, n) == 0, s"Registry.scala calls $n"))
  }

  test("the lookup key's name and derivation are defined once") {
    assert(total("\"lookup_key\"") == Map("RegistryNormalize.scala" -> 1))
    // the one call of normalizeKey outside its definition is the key's
    assert(total("normalizeKey(") ==
      Map("Normalize.scala" -> 1, "RegistryNormalize.scala" -> 1))
    assert(count(sources("RegistryNormalize.scala"),
      "deflookupKey(nNumber:Column):Column=Normalize.normalizeKey(nNumber)") == 1)
    // one keyed write path, shared by normalize and normalizeIncremental
    assert(total("sortWithinPartitions(KeyColumn)") ==
      Map("RegistryNormalize.scala" -> 1))
    assert(total("publish(build(t)(),t,outDir)") ==
      Map("RegistryNormalize.scala" -> 2))
  }
}
