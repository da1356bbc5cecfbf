package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session, never stopped per-suite

  /** Run `f` with the session conf `key` set to `value`, then restore it. */
  def withConf[A](key: String, value: String)(f: => A): A = {
    val saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try f finally spark.conf.set(key, saved)
  }
}

object SparkSpec {
  // fixed 4 cores: the plan-shape and job-count pins assume 4 partitions
  lazy val session: SparkSession = Harness.session(4)
}
