package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Bench's regression screen reads its per-query baseline from the prior
  * artifact only when that run used the same thread count.
  */
class BenchPriorSpec extends AnyFunSuite {

  private def artifact(nt: Int): String = {
    val f = Files.createTempFile("bench-prior", ".json")
    f.toFile.deleteOnExit()
    Files.writeString(f,
      s"""{"sf": "/data/sf0.1", "queries": {"b01": 1.5, "ns103": 0.25},
         | "sf2_detail": {"sf": "/data/sf0.01", "queries": {"b01": 0.5}},
         | "sf_up_detail": {"sf": "/tmp/up", "queries": {"b01": 9.0}},
         | "calib": {"nt": $nt, "pre_1t": 0.7, "pre_nt": 0.75}}""".stripMargin)
    f.toString
  }

  test("priorTimesAt skips a prior artifact from another core count") {
    val same = artifact(nt = 8)
    val other = artifact(nt = 32)
    assert(Bench.priorTimesAt(same, "/data/sf0.1", 8, identity) ==
      Map("b01" -> 1.5, "ns103" -> 0.25))
    assert(Bench.priorTimesAt(same, "/data/sf0.01", 8, _.path("sf2_detail")) ==
      Map("b01" -> 0.5))
    assert(Bench.priorTimesAt(other, "/data/sf0.1", 8, identity).isEmpty)
    assert(Bench.priorTimesAt(other, "/data/sf0.01", 8, _.path("sf2_detail")).isEmpty)
    // the scale-up rung reads its own detail node, under the same rule
    val up = Bench.Rung("/tmp/up", Seq("b01_x"), 1, "_up", Some("sf_up_detail"))
    assert(Bench.priorTimesAt(same, up.dir, 8, up.node) == Map("b01" -> 9.0))
    assert(Bench.priorTimesAt(other, up.dir, 8, up.node).isEmpty)
    // and, as before, another SF dir or a missing file is no baseline either
    assert(Bench.priorTimesAt(same, "/data/sf1", 8, identity).isEmpty)
    assert(Bench.priorTimesAt(same + ".absent", "/data/sf0.1", 8, identity).isEmpty)
  }
}
