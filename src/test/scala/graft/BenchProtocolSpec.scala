package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's `protocol` stamp is rendered from the constants its timing
  * loop reads; the rendered field must stay byte-identical so bench
  * JSON lines from before and after stay comparable. */
class BenchProtocolSpec extends AnyFunSuite {

  private val stamp =
    """"protocol":{"timed_action":"count","warmup_sf":"sf0.001","prejit":true,""" +
      """"prejit_reps_floor_justified":2,"prejit_reps_other":1,"rerun_secs":1.2,""" +
      """"hard_budget_secs":2.5,"rerun_rule":"min-of-2 past rerun_secs, min-of-3 """ +
      """past hard budget unless floor-justified","late_recheck":"one end-of-suite """ +
      """warm+timed min for non-exempt rows past hard budget"},"""

  test("the protocol field renders byte for byte as before (bench_closing.json)") {
    assert(Bench.protocolField(prejitOn = true) === stamp)
    assert(Bench.protocolField(prejitOn = false) ===
      stamp.replace(""""prejit":true""", """"prejit":false"""))
  }
}
