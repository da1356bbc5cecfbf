package graft

import org.scalatest.funsuite.AnyFunSuite

/** The re-queue reference: a prior run's times count only for a run at
  * its scale and core count.
  */
class BenchSpec extends AnyFunSuite {

  private def full(sf: String, cpus: Option[Int]) =
    s"""{"metric":"total","value":1.5,"unit":"sec","k":3,""" +
      cpus.map(c => s""""cpus":$c,""").getOrElse("") +
      s""""queries":{"graph_labelprop":0.645,"rec_als":0.9},"sf":"$sf","value_tail":1.5}"""

  test("an sf0.01 run against an sf0.1 prior requeues nothing") {
    assert(Bench.prior(full("/root/testdata/sf0.1", Some(8)), "/root/testdata/sf0.01", 8).isEmpty)
  }

  test("the prior applies only at the recorded core count") {
    val json = full("/root/testdata/sf0.1", Some(8))
    assert(Bench.prior(json, "/root/testdata/sf0.1", 8) ==
      Map("graph_labelprop" -> 0.645, "rec_als" -> 0.9))
    assert(Bench.prior(json, "/root/testdata/sf0.1", 32).isEmpty)
    assert(Bench.prior(full("/root/testdata/sf0.1", None), "/root/testdata/sf0.1", 8).isEmpty)
  }
}
