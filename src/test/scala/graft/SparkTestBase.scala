package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local[2] session for all specs (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // shared session — never stop it

  /** `body` with `spark.sql.shuffle.partitions` at `n`, restoring the
    * session's value afterwards — for placement-independence checks. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }
}

object SparkTestBase {
  lazy val session: SparkSession =
    Session.local(2).appName("graft-test").getOrCreate()
}
