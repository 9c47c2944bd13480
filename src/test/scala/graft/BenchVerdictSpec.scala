package graft

import graft.Bench.{Clocks, Verdict, classify}
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.classify` on synthetic clocks. The baseline gate is
  * executor-heavy: 2 s wall, 6 s of task run time and 5 s of task CPU,
  * with small wall and CPU MADs, so its bounds are wall 2.3 s, run 6.9 s
  * and CPU 5.75 s (15% each, above 5 x MAD and the floors). */
class BenchVerdictSpec extends AnyFunSuite {

  private val base = Clocks(median = 2.0, mad = 0.02, taskMs = 6000.0,
    cpuMs = 5000.0, cpuMad = 100.0, gcMs = 50.0)
  private def now(wall: Double, run: Double, cpu: Double) =
    Clocks(median = wall, mad = 0.05, taskMs = run, cpuMs = cpu,
      cpuMad = 50.0, gcMs = 60.0)

  test("CPU over its bound is a regression") {
    assert(classify(base, now(3.0, 10000.0, 9000.0)) == Verdict.Regression)
    // more work done on a loaded host still reads as more work
    assert(classify(base, now(3.0, 14000.0, 6000.0)) == Verdict.Regression)
  }

  test("run time over its bound on CPU within it is a contended host") {
    // the shape of a loaded 4-core host: wall +50%, run +66%, CPU flat
    assert(classify(base, now(3.0, 10000.0, 5200.0)) == Verdict.Contended)
  }

  test("wall over with both task clocks within their bounds is wall-only") {
    assert(classify(base, now(3.0, 6800.0, 5700.0)) == Verdict.WallOnly)
  }

  test("nothing over its bound is clean, whatever the task clocks") {
    assert(classify(base, now(2.2, 6500.0, 5600.0)) == Verdict.Clean)
    // only a wall regression is graded
    assert(classify(base, now(2.2, 12000.0, 9000.0)) == Verdict.Clean)
    // a wide baseline MAD widens the wall bound: 2 + 5 x 0.3 = 3.5 s
    assert(classify(base.copy(mad = 0.3), now(3.0, 12000.0, 9000.0)) ==
      Verdict.Clean)
  }

  test("a gate with no task witness keeps the wall-only rule") {
    // task time under 10% of wall: the clocks cannot witness either way
    val driverSide = Clocks(median = 1.5, mad = 0.02, taskMs = 120.0,
      cpuMs = 90.0, cpuMad = 10.0, gcMs = 0.0)
    assert(classify(driverSide, now(2.5, 120.0, 90.0)) == Verdict.Regression)
    assert(classify(driverSide, now(1.6, 900.0, 800.0)) == Verdict.Clean)
  }

  test("small task clocks are bounded by the 250 ms floor, not 15%") {
    val small = Clocks(median = 0.4, mad = 0.01, taskMs = 400.0,
      cpuMs = 300.0, cpuMad = 10.0, gcMs = 0.0)
    assert(classify(small, now(0.8, 800.0, 540.0)) == Verdict.Contended)
    assert(classify(small, now(0.8, 800.0, 560.0)) == Verdict.Regression)
    assert(classify(small, now(0.8, 640.0, 540.0)) == Verdict.WallOnly)
  }

  test("a noisy baseline CPU clock widens its bound to 5 x its MAD") {
    // CPU MAD 400 ms: bound 5 + 2 = 7 s, so +30% CPU is within it
    assert(classify(base, now(3.0, 10000.0, 6500.0)) == Verdict.Regression)
    assert(classify(base.copy(cpuMad = 400.0), now(3.0, 10000.0, 6500.0)) ==
      Verdict.Contended)
    // still a regression past the widened bound
    assert(classify(base.copy(cpuMad = 400.0), now(3.0, 10000.0, 7100.0)) ==
      Verdict.Regression)
  }
}
