package graft

import org.apache.spark.sql.SparkSession

import graft.tools.LayerProfile

/** Counts the Spark jobs a block of code launches, for asserting that
  * building a query or reading a table runs no eager action. Uses the
  * tagged listener of [[graft.tools.LayerProfile]]: threads the block
  * starts are counted too, and other work in the session is not. */
object JobCounter {
  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (result, phase) = LayerProfile.phase(spark)(body)
    (result, phase.work.jobs)
  }
}
