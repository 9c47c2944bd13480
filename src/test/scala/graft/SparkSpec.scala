package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  /** Unique per test JVM, so concurrent suites never share a warehouse. */
  val name = s"graft-test-${java.util.UUID.randomUUID()}"
  lazy val session: SparkSession = {
    val s = GraftSession(name, 4)
    // the warehouse lives under java.io.tmpdir (RAM-backed under sbt)
    val warehouse = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    sys.addShutdownHook(
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(warehouse)))
    s
  }
}
