package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** The bench-evidence tooling's own tests, wired into `sbt test` so the
  * driver's gate exercises them: check_pins.py is what makes the
  * committed pins re-derivable-from-committed-evidence (VERDICT r15 #2),
  * and its key-set assertion is load-bearing — an extra canary entry
  * whose value happens to match would otherwise pass silently
  * (VERDICT r17 #7 asked for exactly this negative coverage). */
class ScriptsSpec extends AnyFunSuite {

  test("check_pins.py: value, key-set, and truncated-capture assertions " +
      "all fire (negative fixtures)") {
    val out = new StringBuilder
    val rc = Process(Seq("python3", "scripts/test_check_pins.py"))
      .!(ProcessLogger(l => { out.append(l).append('\n'); () }))
    assert(rc == 0, s"test_check_pins.py failed:\n$out")
  }

  test("perfbench_ab.py: schedule, run parsing and A/B statistics") {
    val out = new StringBuilder
    val rc = Process(Seq("python3", "scripts/test_perfbench_ab.py"))
      .!(ProcessLogger(l => { out.append(l).append('\n'); () }))
    assert(rc == 0, s"test_perfbench_ab.py failed:\n$out")
  }
}
