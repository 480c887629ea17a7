package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}

/** Scratch directories for a spec's tests. `tempDir(prefix)` makes a fresh
 * directory under java.io.tmpdir; when the test that made it ends, pass or
 * fail, every streaming query the test left running is stopped (so none
 * still writes into it) and each such directory is deleted, tree and all. */
trait TempDirs extends TestSuite {
  private val made = scala.collection.mutable.ListBuffer.empty[Path]

  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir.toString
  }

  override protected def withFixture(test: NoArgTest): Outcome = {
    def active = SparkSession.getDefaultSession.toSeq.flatMap(_.streams.active)
    val before = active.map(_.id).toSet
    try super.withFixture(test)
    finally {
      active.filterNot(q => before(q.id)).foreach(_.stop())
      made.foreach(deleteTree)
      made.clear()
    }
  }

  private def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val paths = Files.walk(dir)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
