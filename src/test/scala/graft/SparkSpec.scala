package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared-session base for all suites: one SparkSession per JVM
  * (Test / fork := true), built by `GraftSession.builder` so the specs run
  * the production settings. Only the size knobs differ: local[4], 4
  * shuffle partitions, a temp warehouse and ERROR logging.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up

  /** Waits for a bounded (AvailableNow) streaming query: fails the test
    * when it has not terminated within `ms`, and stops it either way so a
    * hung query never outlives its test.
    */
  protected def awaitBounded(q: StreamingQuery, ms: Long): Unit =
    try assert(q.awaitTermination(ms), s"streaming query ${q.id} did not terminate within $ms ms")
    finally q.stop()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
