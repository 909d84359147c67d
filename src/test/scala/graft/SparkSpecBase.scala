package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per suite (cheap —
  * getOrCreate reuses the JVM-wide session across suites in one forked
  * test JVM).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // every claimed checkpoint in every spec validates its layout
    // (CheckpointBlocks.validateClaim) — an over-claim mis-joins
    // silently in production mode, so the suites are where it must trip
    .config("spark.graft.validateClaims", "true")
    .appName("graft-spec")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Copy the directory tree at `from` to `to`, e.g. to replay a store. */
  protected def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.toList.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  override def afterAll(): Unit = {
    // keep the session alive for sibling suites in the same JVM
    super.afterAll()
  }
}
