package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("only a full sf0.1 sweep at 32 cores writes the contract record") {
    assert(Bench.defaultOut(partial = false, "sf0.1", 32) === "BENCH_LATEST.json")
    assert(Bench.defaultOut(partial = false, "sf0.1", 8) === "target/bench_latest_c8.json")
    assert(Bench.defaultOut(partial = false, "sf0.001", 32) === "target/bench_latest_sf0.001.json")
    assert(Bench.defaultOut(partial = true, "sf0.1", 32) === "target/bench_latest.json")
  }
}
