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
  lazy val session: SparkSession = Tables.sessionDefaults(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()
}
