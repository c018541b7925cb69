package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  /** the same session policy as the bench and the oracle dump, on 4 cores */
  lazy val session: SparkSession = Sessions.local(4)
}
