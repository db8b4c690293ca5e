package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local[2] session for all specs (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // shared session — never stop it
}

object SparkTestBase {
  lazy val session: SparkSession =
    Session.local(2).appName("graft-test").getOrCreate()
}
