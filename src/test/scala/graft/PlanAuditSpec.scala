package graft

import org.scalatest.funsuite.AnyFunSuite

/** The standing build gate for plan discipline (round-13): `sbt test`
  * now fails — not just the per-round `runMain graft.Tools audit` ritual —
  * when a registered query loses its PLANS.json pin, regresses its plan
  * shape (exchanges up, codegen down, new nested loop / cartesian /
  * unpartitioned window), or grows an unwhitelisted or over-cap driver
  * collect. Runs the exact same audit body as the runMain on a dedicated
  * child session (the audit pins AQE off + 4 shuffle partitions, which
  * must not leak into the other suites' shared session). */
class PlanAuditSpec extends AnyFunSuite {

  test("all registered queries match their pinned plan shapes and every " +
      "driver collect is plan-bounded or whitelisted under the row cap") {
    val plans = new java.io.File("PLANS.json")
    assert(plans.isFile, "PLANS.json baseline missing from the repo root")
    // The standing gate audits at sf0.001 for speed. Under the audit's
    // pinned config (AQE OFF, fixed shuffle partitions) no RUNTIME
    // statistic can flip a plan, and the engine's scale-relevant joins
    // force their strategy with explicit broadcast() hints; the one
    // residual SF-dependence is (a) the static auto-broadcast estimate
    // on un-hinted joins, which CAN flip broadcast->SMJ as file sizes
    // grow, and (b) driver-loop queries whose final plan embeds a
    // data-sized unroll count. That residue is exactly what the
    // per-round `runMain graft.Tools audit <sf0.1 dir> --diff
    // PLANS.json` ritual checks empirically at the bench SF (committed
    // artifact: tools/planaudit_sf01_r14.txt — round 14: 239/241 shapes
    // identical, the two diffs both loop-unroll residue, 0 flips,
    // 0 red flags, 0 collect violations).
    // The overlay pins q_combat_moments at codegen 4, its shape once the
    // audit clears the cache after each query (as Bench and Verify do);
    // the PLANS.json pin (3) was taken while q_combat's persisted blocks
    // were still cached. Strict mode fails any diff the overlay does not
    // name, and the loop below fails a return to the old shape, which a
    // plain diff would pass as "matches the baseline".
    val overlay = "tools/PLANS_SF0001_EXPECT.json"
    val expected = PlanAudit.readShapes(overlay)
    val s = SparkSpec.session.newSession()
    val log = new StringBuilder
    val res = PlanAudit.audit(s, "/root/testdata/sf0.001", Set.empty,
      writePath = None, diffPath = Some(plans.getPath),
      expectPath = Some(overlay),
      out = m => { log.append(m).append('\n') })
    val flagged = log.toString.linesIterator
      .filter(l => l.contains("!!") || l.contains("REGRESSION") ||
        l.contains("PLAN_ERROR"))
      .mkString("\n")
    assert(res.shapes.size == SparkEntry.queries.size,
      s"only ${res.shapes.size}/${SparkEntry.queries.size} queries planned\n$flagged")
    assert(res.collectViolations == 0,
      s"${res.collectViolations} collect violations\n$flagged")
    assert(res.regressions == 0,
      s"${res.regressions} plan-shape regressions vs PLANS.json\n$flagged")
    // red-flag lines outside the diff counters (NESTED_LOOP/GLOBAL_WINDOW
    // on a non-exempt query, EXTRA_CROSS past the allowance) must also
    // fail: they are the audit's primary signal, the pins its memory
    assert(flagged.isEmpty, s"plan audit red flags:\n$flagged")
    expected.foreach { case (n, shape) =>
      assert(res.shapes.get(n).contains(shape),
        s"$n planned ${res.shapes.get(n)}, $overlay pins $shape")
    }
  }
}
