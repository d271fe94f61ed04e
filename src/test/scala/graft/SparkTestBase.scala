package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, tests run
  * sequentially inside sbt's forked test JVM). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` with the artifact root (`graft.index.dir`) pointed at a
    * fresh temp directory, restoring the previous setting after. */
  def withIndexRoot[A](f: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft_index_test").toString
    val prev = sys.props.get("graft.index.dir")
    sys.props("graft.index.dir") = root
    try f(root)
    finally prev match {
      case Some(v) => sys.props("graft.index.dir") = v
      case None    => sys.props.remove("graft.index.dir")
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
