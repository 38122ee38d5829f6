package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for the in-memory pair engines: every banded or
  * blocked pair search goes through the band-cell scorer in
  * `Similarity.scala`, so its triangle-cell tagging is written once and
  * no engine hand-writes a band self-join beside the stored layout's. */
class PairEngineSourceSpec extends AnyFunSuite {

  private val main = new File("src/main/scala")

  /** Every main source, by path, whitespace removed. */
  private lazy val sources: Map[String, String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(main).filter(_.getName.endsWith(".scala")).map { f =>
      f.getPath -> new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
        .replaceAll("\\s+", "")
    }.toMap
  }

  private def hits(pattern: String): Map[String, Int] =
    sources.map { case (path, src) =>
      path -> pattern.r.findAllMatchIn(src).length
    }.filter(_._2 > 0)

  test("the triangle-cell tagging is written once, in Similarity.scala") {
    assert(main.isDirectory, s"not the repository root: ${main.getAbsolutePath}")
    // a row's sub-block: its id hash modulo the bucket's sub-block count
    val subBlock = hits("""pmod\(xxhash64\(col\("[^"]+"\)\),col\("__g"\)\)""")
    assert(subBlock.keys.map(new File(_).getName).toSet == Set("Similarity.scala")
      && subBlock.values.sum == 1, s"sub-block hashing in $subBlock")
    // the join form's cell explode over the sub-block index
    assert(hits("""sequence\(col\("__u"\)""").isEmpty)
    assert(hits("""sequence\(lit\(0L\),col\("__u"\)\)""").isEmpty)
  }

  test("no band self-join outside Dedup.pairsFromBandTable") {
    val bandJoin = hits("""col\("a\.band_hash"\)===col\("b\.band_hash"\)""")
    assert(bandJoin.keys.map(new File(_).getName).toSet == Set("Dedup.scala")
      && bandJoin.values.sum == 1, s"band self-joins in $bandJoin")
    val dedup = sources.collectFirst {
      case (p, src) if p.endsWith("operators/Dedup.scala") => src
    }.get
    val start = dedup.indexOf("defpairsFromBandTable(")
    val join = dedup.indexOf("""col("a.band_hash")===col("b.band_hash")""")
    assert(start >= 0 && join > start && dedup.indexOf("def", start + 3) > join,
      "the band self-join is not pairsFromBandTable's")
    assert(hits("""col\("[ab]\.cv"\)""").isEmpty, "a SimHash chunk self-join")
  }

  test("the spec-only embedding layout and the cc debug switch are gone") {
    for (gone <- Seq("defwriteEmbBandedLayout(", "defknnGraphFromLayout(",
        "GRAFT_CC_DEBUG"))
      assert(hits(java.util.regex.Pattern.quote(gone)).isEmpty,
        s"still present: $gone")
  }
}
