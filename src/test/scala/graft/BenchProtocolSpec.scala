package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the wall-budget degrade projection (`Bench.shouldDegrade`) — the
  * arithmetic that decides whether the remaining gates run best-of-N or
  * single-repeat (VERDICT r19 #1). The driver's r19 bench artifact was
  * rc:124 because no such decision existed; these cases pin the decision
  * boundary so a refactor can't silently invert it. */
class BenchProtocolSpec extends AnyFunSuite {

  test("degrades when the projection exceeds the budget") {
    // 100s elapsed, avg 2s/repeat, 200 gates × 2 repeats = 800s projected
    // on top of 100 → 900 > 600 budget
    assert(Bench.shouldDegrade(wallS = 100, gateWallSum = 40,
      repeatsExecuted = 20, remainingGates = 200, effRepeats = 2,
      budgetS = 600))
  }

  test("stays best-of-2 when the projection fits") {
    // 100 + 200×2×2 = 900 ≤ 1000 budget
    assert(!Bench.shouldDegrade(wallS = 100, gateWallSum = 40,
      repeatsExecuted = 20, remainingGates = 200, effRepeats = 2,
      budgetS = 1000))
  }

  test("never degrades before minRepeats of signal — one slow first " +
    "gate cannot flip the protocol") {
    // 2 executed repeats of a pathologically slow gate (30s each): the
    // projection would scream, but signal is insufficient
    assert(!Bench.shouldDegrade(wallS = 60, gateWallSum = 60,
      repeatsExecuted = 2, remainingGates = 250, effRepeats = 2,
      budgetS = 600))
    // the same average with enough repeats DOES degrade
    assert(Bench.shouldDegrade(wallS = 60, gateWallSum = 240,
      repeatsExecuted = 8, remainingGates = 250, effRepeats = 2,
      budgetS = 600))
  }

  test("no-op once already at single repeat") {
    assert(!Bench.shouldDegrade(wallS = 10000, gateWallSum = 1000,
      repeatsExecuted = 100, remainingGates = 100, effRepeats = 1,
      budgetS = 600))
  }

  test("boundary: projection exactly at the budget does NOT degrade " +
    "(strict inequality — the budget is a target, not a tripwire)") {
    // avg 1s/repeat: 100 + 200 gates × 1 × 2 repeats = 500 == 500
    assert(!Bench.shouldDegrade(wallS = 100, gateWallSum = 100,
      repeatsExecuted = 100, remainingGates = 200, effRepeats = 2,
      budgetS = 500))
    assert(Bench.shouldDegrade(wallS = 100, gateWallSum = 100,
      repeatsExecuted = 100, remainingGates = 200, effRepeats = 2,
      budgetS = 499.9))
  }

  test("value_with_prep counts staging inside a prep build once") {
    // 100 s best-of-N total; 20 s of prep builds, 8 s of which were
    // cache-miss staging; 8 s of staging outside the reported minima
    // (that same staging, dropped with repeat 1): 100 + 12 + 8
    assert(Bench.valueWithPrepS(total = 100, prepBuildS = 20,
      prepStagingS = 8, stagingExcludedS = 8) == 120.0)
    // the staging repeat was the minimum: the 8 s are inside `total`
    // instead, nothing is excluded, and they still count once
    assert(Bench.valueWithPrepS(total = 108, prepBuildS = 20,
      prepStagingS = 8, stagingExcludedS = 0) == 120.0)
    // no staging inside prep: the plain sum
    assert(Bench.valueWithPrepS(total = 100, prepBuildS = 20,
      prepStagingS = 0, stagingExcludedS = 5) == 125.0)
  }
}
