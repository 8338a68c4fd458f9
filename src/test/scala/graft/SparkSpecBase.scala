package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the tools' session factory at a
  * fixed 4 task slots and 4 shuffle partitions. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local("graft-test", cpus = 4)

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
