package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs. */
trait SparkTest {
  lazy val spark: SparkSession = SparkTest.session

  /** Spark jobs `body` launches, counted through a job group. The
    * status store fills from the listener bus in order: once a later
    * sentinel job shows up, every job of `body` has.
    */
  def jobsIn(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"${tag}_${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, tag)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"${group}_end", "")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"${group}_end").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

object SparkTest {
  // the entry-point builder (GraftSession.local) so specs exercise the
  // same session config the bench/verify mains run under — UTC, local
  // scan sizing, core-count shuffle partitions
  lazy val session: SparkSession = GraftSession.local(4, 4)
}
