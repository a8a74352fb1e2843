package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench record protocol's pure pieces (r18 verdict asks #2/#3):
  * the recorded per-query number is the min over ALL iterations — steal
  * only inflates wall, so every iteration is a valid upper bound and the
  * global min is the tightest one; the r18 clean-preferred min discarded
  * a 1.49 s dirty iteration and recorded 2.37 s for q192. */
class BenchProtocolSpec extends AnyFunSuite {

  test("recordedMin is the global min — never above the min over any subset") {
    // the q192 incident shape: times [1.49, 101.4, 2.37], clean = last only
    val walls = Seq(1.49, 101.4, 2.37)
    val cleanOnly = Seq(2.37)
    assert(BenchProtocol.recordedMin(walls) == 1.49)
    assert(BenchProtocol.recordedMin(walls) <=
      BenchProtocol.recordedMin(cleanOnly))
  }

  test("recordedMin(all) <= recordedMin(clean) for arbitrary splits") {
    val all = Seq(3.0, 0.7, 2.2, 5.1)
    for (cleanMask <- all.indices.toSet.subsets() if cleanMask.nonEmpty) {
      val clean = cleanMask.toSeq.map(all)
      assert(BenchProtocol.recordedMin(all) <=
        BenchProtocol.recordedMin(clean))
    }
  }

  test("deadline is measured from JVM start and 0 disables it") {
    val start = 1000L * 1000
    assert(!BenchProtocol.expired(start, start + 2699 * 1000L, 2700))
    assert(BenchProtocol.expired(start, start + 2700 * 1000L, 2700))
    assert(!BenchProtocol.expired(start, start + 100000 * 1000L, 0))
    assert(!BenchProtocol.expired(start, start + 100000 * 1000L, -1))
  }

  test("Verify cheap-first ordering: known costs ascend, unknown last by name") {
    val prior = Map("q_b" -> 2.0, "q_a" -> 5.0, "q_c" -> 0.3)
    val names = Seq("q_a", "q_b", "q_z", "q_c", "q_m")
    assert(Verify.cheapFirst(names, prior) ==
      Seq("q_c", "q_b", "q_a", "q_m", "q_z"))
  }

  test("Verify bench prior parses the detail file's queries map") {
    val tmp = java.nio.file.Files.createTempFile("bench_detail", ".json")
    java.nio.file.Files.writeString(tmp,
      """{"metric":"total","value":9.9,"unit":"sec","queries":{"q1":1.5,"q2":0.25},"times":{"q1":[1.5]}}""")
    val m = Verify.benchPrior(tmp.toString)
    assert(m == Map("q1" -> 1.5, "q2" -> 0.25))
    assert(Verify.benchPrior("/nonexistent/path.json") == Map.empty)
    java.nio.file.Files.delete(tmp)
  }

  test("the record carries per-iteration codegen_compiles next to gc_ms") {
    import BenchProtocol.{Iter, Layers}
    import JobCounter.Counts
    // schema_inferences rides next to codegen_compiles, then the
    // wall's layers and the scheduling counts
    val rec = BenchProtocol.record(
      Seq("q1" -> Seq(Iter(Layers(1.25, 0.125, 0.625), Some(3.5), 40L, 17L, 3L,
                        Some(1.25), Some(0L), 0, Counts(12, 14, 40, 3.25)),
                      Iter(Layers(0.5, 0.0625, 0.9375), None, 0L, 0L, 0L,
                        None, None, 1, Counts(12, 13, 38, 2.5))),
          "q2" -> Seq(Iter(Layers(0.0, 0.0, 0.25), Some(0.5), 3L, 0L, 1L,
                        Some(0.5), Some(30000L), 2, Counts(1, 1, 4, 0.0)))),
      Seq("q2"), "{}", "sf")
    assert(rec ==
      "{\"metric\":\"total\",\"value\":1.75,\"unit\":\"sec\"," +
      "\"queries\":{\"q1\":1.5,\"q2\":0.25}," +
      "\"times\":{\"q1\":[2.000,1.500],\"q2\":[0.250]}," +
      "\"cpu_sec\":{\"q1\":[3.500,null],\"q2\":[0.500]}," +
      "\"gc_ms\":{\"q1\":[40,0],\"q2\":[3]}," +
      "\"codegen_compiles\":{\"q1\":[17,0],\"q2\":[0]}," +
      "\"schema_inferences\":{\"q1\":[3,0],\"q2\":[1]}," +
      "\"construct_sec\":{\"q1\":[1.250,0.500],\"q2\":[0.000]}," +
      "\"plan_sec\":{\"q1\":[0.125,0.063],\"q2\":[0.000]}," +
      "\"run_sec\":{\"q1\":[0.625,0.938],\"q2\":[0.250]}," +
      "\"jobs\":{\"q1\":[12,12],\"q2\":[1]}," +
      "\"stages\":{\"q1\":[14,13],\"q2\":[1]}," +
      "\"tasks\":{\"q1\":[40,38],\"q2\":[4]}," +
      "\"task_sec\":{\"q1\":[3.250,2.500],\"q2\":[0.000]}," +
      "\"load1m\":{\"q1\":[1.25,null],\"q2\":[0.50]}," +
      "\"steal_ppm\":{\"q1\":[0,null],\"q2\":[30000]}," +
      "\"steal_retries\":{\"q1\":[0,1],\"q2\":[2]}," +
      "\"steal_flagged\":[\"q2\"],\"env\":{},\"sf\":\"sf\"}")
    // the prior Verify orders by still reads the new record
    val tmp = java.nio.file.Files.createTempFile("bench_detail", ".json")
    java.nio.file.Files.writeString(tmp, rec + "\n")
    assert(Verify.benchPrior(tmp.toString) == Map("q1" -> 1.5, "q2" -> 0.25))
    java.nio.file.Files.delete(tmp)
  }
}
