package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs — one local session per JVM, tests run
  * against the sf0.001 testdata.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  // this suite's scratch root, made on first use and deleted in afterAll
  private var tmpRoot: Option[Path] = None

  private def scratch: Path = synchronized {
    if (tmpRoot.isEmpty) tmpRoot = Some(Files.createTempDirectory("graft-spec-"))
    tmpRoot.get
  }

  /** A new temp directory under this suite's scratch root. */
  protected def tempDir(prefix: String): Path = Files.createTempDirectory(scratch, prefix)

  /** A new temp file under this suite's scratch root. */
  protected def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(scratch, prefix, suffix)

  /** The local spools on disk now: [[graft.ingest.Spool]] places each
    * one under the JVM's scratch root, [[GraftSession.processDir]].
    */
  protected def spools(): Set[String] =
    Option(GraftSession.processDir.toFile.list())
      .fold(Set.empty[String])(_.toSet.filter(_.startsWith("spool-")))

  override protected def afterAll(): Unit =
    try tmpRoot.foreach(SparkSpec.deleteTree)
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Delete `root` and everything under it; a missing `root` is a no-op. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
