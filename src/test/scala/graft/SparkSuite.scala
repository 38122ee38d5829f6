package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite, configured
  * like Verify/Bench (UTC, ANSI off, AQE on). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = graft.Sessions.tuneLocal(SparkSession.builder())
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // engine-wide default (see graft.operators.Layouts): bucketed
    // layouts are only read by probes that want the bucketed scan
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}

/** One temp root per suite, named `rootName`, removed when the suite
  * ends; `tmpDir` hands out fresh dirs under it. */
trait SuiteTempDirs extends BeforeAndAfterAll { this: Suite =>
  protected def rootName: String
  private lazy val suiteRoot = Files.createTempDirectory(rootName)
  protected def tmpDir(prefix: String): String =
    Files.createTempDirectory(suiteRoot, prefix).toString

  override def afterAll(): Unit =
    try super.afterAll()
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(suiteRoot.toFile)
}
