package graft

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's screens and renderer, driven through an injected runner: no
  * SparkSession, no Spark job.
  */
class BenchScreenSpec extends AnyFunSuite {
  import Bench.{Calib, Leg, Rung, Screen}

  /** Serves rerun times per dir (a gate it has no time for failed every
    * repeat) and records every call.
    */
  private final class FakeRunner(reruns: Map[String, Map[String, Double]]) {
    val calls = mutable.Buffer.empty[(String, Seq[String], Int)]
    val run: Bench.Runner = (dir, names, repeats) => {
      calls += ((dir, names, repeats))
      names.map(n => n -> reruns.getOrElse(dir, Map.empty).get(n))
    }
  }

  private val noScreen = Screen(Seq.empty, Seq.empty)

  private def leg(dir: String, times: (String, Double)*): Leg =
    Leg(Rung(dir, times.map(_._1), 1, "", None), times, Seq.empty, Map.empty, noScreen)

  test("superlinear flags a down and an up ratio at their floors, after a min-of-2 confirm at both rungs") {
    val f = new FakeRunner(Map.empty)
    // down: no floor on the primary time; the sf2 time floored at 50 ms is
    // the only guard, and it holds every flag above 0.75 s (d at 15.2x, e at 15.0x)
    val primary = leg("/p", "a_1" -> 0.8, "b_1" -> 1.9, "c_1" -> 0.7, "d_1" -> 0.76, "e_1" -> 0.75)
    val sf2 = leg("/s", "a_1" -> 0.05, "b_1" -> 0.05, "c_1" -> 0.01, "d_1" -> 0.0, "e_1" -> 0.01)
    val down = Seq("a_1" -> 16.0, "b_1" -> 38.0, "d_1" -> 15.2)
    assert(Bench.superlinear(f.run, primary, sf2) == down)
    assert(f.calls == Seq(("/p", Seq("a_1", "b_1", "d_1"), 2), ("/s", Seq("a_1", "b_1", "d_1"), 2)))
    // so a floor of up to 0.75 s on the primary time screens the same gates
    assert(Bench.superlinear(new FakeRunner(Map.empty).run, primary, sf2, 0.75) == down)
    // up: a 2 s floor on the up time — b's 39.8x under 2 s is no flag
    f.calls.clear()
    val up = leg("/u", "a_1" -> 2.1, "b_1" -> 1.99)
    val below = leg("/p", "a_1" -> 0.1, "b_1" -> 0.05)
    assert(Bench.superlinear(f.run, up, below, 2.0) == Seq("a_1" -> 21.0))
    assert(f.calls == Seq(("/u", Seq("a_1"), 2), ("/p", Seq("a_1"), 2)))
    // nothing over 15x: no rerun at all
    f.calls.clear()
    assert(Bench.superlinear(f.run, leg("/p", "a_1" -> 1.0), leg("/s", "a_1" -> 0.5)).isEmpty)
    assert(f.calls.isEmpty)
  }

  test("a flag the confirm rerun clears is not emitted") {
    val primary = leg("/p", "a_1" -> 1.6, "b_1" -> 1.6)
    val sf2 = leg("/s", "a_1" -> 0.1, "b_1" -> 0.1)
    // a's rerun drops it to 12x; b keeps the smaller of suite and rerun
    val f = new FakeRunner(Map("/p" -> Map("a_1" -> 1.2, "b_1" -> 3.0), "/s" -> Map("b_1" -> 0.09)))
    assert(Bench.superlinear(f.run, primary, sf2) == Seq("b_1" -> 17.8))
    val g = new FakeRunner(Map("/p" -> Map("a_1" -> 1.4)))
    val s = Bench.regressions(g.run, "/p", Seq("a_1" -> 1.6, "b_1" -> 1.6), Map("a" -> 1.0, "b" -> 1.0))
    assert(s == Screen(Seq(("b_1", 1.6, 1.0)), Seq("a")))
    assert(g.calls == Seq(("/p", Seq("a_1", "b_1"), 2)))
  }

  test("regression bars: 1.5x for queries of 1 s or more, 2x below, over the 0.5 s and 50 ms floors") {
    val f = new FakeRunner(Map.empty)
    val times = Seq(
      "a_1" -> 1.55, // 1.55x at >= 1 s: flagged
      "b_1" -> 1.45, // 1.45x: under the 1.5x bar
      "c_1" -> 0.65, // 2.17x under 1 s: flagged
      "d_1" -> 0.55, // 1.83x under 1 s: under the 2x bar
      "e_1" -> 0.5, // 5x, but not over 0.5 s
      "f_1" -> 0.9, // prior not over 50 ms
      "g_1" -> 9.0) // no prior
    val prior = Map("a" -> 1.0, "b" -> 1.0, "c" -> 0.3, "d" -> 0.3, "e" -> 0.1, "f" -> 0.05)
    val s = Bench.regressions(f.run, "/p", times, prior)
    assert(s == Screen(Seq(("c_1", 0.65, 0.3), ("a_1", 1.55, 1.0)), Seq.empty))
    assert(f.calls == Seq(("/p", Seq("a_1", "c_1"), 2)))
    f.calls.clear()
    assert(Bench.regressions(f.run, "/p", Seq("b_1" -> 1.45), prior) == noScreen)
    assert(f.calls.isEmpty)
  }

  test("the regression screen confirms at most the 20 worst ratios") {
    val f = new FakeRunner(Map.empty)
    val times = (1 to 25).map(i => f"g$i%02d_x" -> (1.0 + i))
    val prior = (1 to 25).map(i => f"g$i%02d" -> 1.0).toMap
    val s = Bench.regressions(f.run, "/p", times, prior)
    assert(s.confirmed.map(_._1) == (25 to 6 by -1).map(i => f"g$i%02d_x"))
    assert(f.calls == Seq(("/p", (6 to 25).map(i => f"g$i%02d_x"), 2)))
  }

  test("render writes the stdout line and bench_last.json document of a three-rung run") {
    val sel = Seq("b01_x", "ns02_y", "ns05_w", "ns10_z")
    val primary = Leg(
      Rung("/d/sf0.1", sel, 3, "", None),
      Seq("b01_x" -> 1.5, "ns02_y" -> 0.25, "ns10_z" -> 2.0004),
      Seq("ns05_w"),
      Map("b01" -> 1.0, "ns10" -> 1.0),
      Screen(Seq(("b01_x", 1.5, 1.0)), Seq("ns10")))
    val sf2 = Leg(
      Rung("/d/sf0.01", sel, 3, "_sf2", Some("sf2_detail"), "superlinear"),
      Seq("b01_x" -> 0.1, "ns02_y" -> 0.02),
      Seq("ns05_w", "ns10_z"),
      Map("b01" -> 0.1),
      noScreen,
      Seq("b01_x" -> 15.0))
    val up = Leg(
      Rung("/tmp/up", Seq("b01_x"), 1, "_up", Some("sf_up_detail"), "superlinear_up", Some("/d/sf0.1")),
      Seq("b01_x" -> 30.0),
      Seq.empty,
      Map.empty,
      noScreen,
      Seq("b01_x" -> 20.0))
    val (line, doc) = Bench.render(Seq(primary, sf2, up), Calib(4, 0.7, 0.75, 0.701, 0.8))
    val tail = """"sf":"/d/sf0.1","sf2":"/d/sf0.01","sf2_total":0.120,"superlinear":{"b01":15.0},""" +
      """"sf_up":"/tmp/up","sf_up_total":30.000,"superlinear_up":{"b01":20.0},""" +
      """"regressions_confirmed":{"b01":[1.500,1.000]},"regressions_cleared":["ns10"],""" +
      """"regressions_confirmed_sf2":{},"regressions_cleared_sf2":[],"failed":["ns05","ns10"],""" +
      """"calib":{"nt":4,"pre_1t":0.700,"pre_nt":0.750,"post_1t":0.701,"post_nt":0.800}"""
    val head = """{"metric":"total","value":3.750,"unit":"sec","queries_n":3,""" +
      """"queries":{"b01":1.500,"ns02":0.250,"ns10":2.000},"""
    assert(line == head +
      """"queries_note":"top40 by time; full map in bench_last.json",""" + tail + "}")
    assert(doc == head + tail +
      ""","sf2_detail":{"sf":"/d/sf0.01","total":0.120,"queries":{"b01":0.100,"ns02":0.020}}""" +
      ""","sf_up_detail":{"sf":"/tmp/up","total":30.000,"queries":{"b01":30.000}}}""")
  }

  test("render keeps only the top 40 primary queries on stdout and the full map in the file") {
    val times = (1 to 45).map(i => f"q$i%02d_x" -> i.toDouble)
    val (line, doc) = Bench.render(
      Seq(Leg(Rung("/d", times.map(_._1), 1, "", None), times, Seq.empty, Map.empty, noScreen)),
      Calib(1, 1.0, 1.0, 1.0, 1.0))
    val json = new ObjectMapper()
    val top = json.readTree(line).path("queries").fieldNames()
    val ids = Iterator.continually(top).takeWhile(_.hasNext).map(_.next()).toSeq
    assert(ids == (6 to 45).map(i => f"q$i%02d"))
    assert(json.readTree(doc).path("queries").size == 45)
    assert(json.readTree(line).path("queries_n").asInt == 45)
    assert(!line.contains("regressions") && !line.contains("failed") && !line.contains("superlinear"))
  }
}
