package graft.streaming

import java.nio.file.Files
import java.time.{DayOfWeek, ZoneOffset}

import org.scalatest.funsuite.AnyFunSuite

/** Scheduler semantics vs the reference's interval/daily/weekly types
  * (scheduler.py:42-160): pure next-due arithmetic, once-per-tick
  * catch-up, registration does not fire immediately, state survives a
  * restart via the persisted last-run file.
  */
class SchedulerSpec extends AnyFunSuite {
  import Scheduler._

  // 2023-11-14 22:13:20 UTC (a Tuesday)
  private val t0 = 1700000000000L
  private val Min = 60000L
  private val Hour = 3600000L
  private val Day = 24 * Hour

  test("schedule arithmetic: interval, daily, weekly next-due instants") {
    assert(Interval(5 * Min).nextAfter(t0) == t0 + 5 * Min)

    // daily 23:00 UTC is later the same day; daily 09:00 is tomorrow
    val d23 = Daily(23, 0).nextAfter(t0)
    val d9 = Daily(9, 0).nextAfter(t0)
    def utc(ms: Long) = java.time.ZonedDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(ms), ZoneOffset.UTC)
    assert(utc(d23).getHour == 23 && d23 - t0 < Day && d23 > t0)
    // 22:13 -> next 09:00 is 10h47m away, and it lands tomorrow
    assert(utc(d9).getHour == 9 && d9 - t0 > 10 * Hour && d9 - t0 < Day)
    // strictly-after: a tick exactly at hh:mm schedules the NEXT day
    assert(Daily(23, 0).nextAfter(d23) - d23 == Day)

    // weekly: t0 is Tuesday; next Friday 10:30 is this week, next Tuesday
    // 10:00 (already past 22:13) is NEXT week
    val fri = Weekly(DayOfWeek.FRIDAY, 10, 30).nextAfter(t0)
    val tue = Weekly(DayOfWeek.TUESDAY, 10, 0).nextAfter(t0)
    assert(utc(fri).getDayOfWeek == DayOfWeek.FRIDAY && fri - t0 < 4 * Day)
    assert(utc(tue).getDayOfWeek == DayOfWeek.TUESDAY &&
      tue - t0 > 6 * Day && tue - t0 < 7 * Day)
    assert(Weekly(DayOfWeek.FRIDAY, 10, 30).nextAfter(fri) - fri == 7 * Day)
  }

  test("runner: no fire on registration, once-per-tick catch-up, disabled jobs skipped") {
    var runs = List.empty[(String, Int)]
    var n1 = 0; var n2 = 0
    val jobs = Seq(
      Job("fast", Interval(5 * Min), () => { n1 += 1; runs ::= ("fast", n1) }),
      Job("slow", Interval(1 * Hour), () => { n2 += 1; runs ::= ("slow", n2) }),
      Job("off", Interval(1 * Min), () => fail("disabled job must not run"),
        enabled = false))
    val r = new Runner(jobs, startMs = t0)

    assert(r.runPending(t0).isEmpty, "registration must not fire jobs")
    assert(r.runPending(t0 + 4 * Min).isEmpty, "nothing due yet")
    assert(r.runPending(t0 + 5 * Min) == Seq("fast"))
    // 3 intervals elapse at once -> ONE catch-up run, clock resets to now
    assert(r.runPending(t0 + 20 * Min) == Seq("fast"))
    assert(r.runPending(t0 + 24 * Min).isEmpty, "clock reset to the tick that ran")
    // both due together: registration order
    assert(r.runPending(t0 + 2 * Hour) == Seq("fast", "slow"))
    assert(n1 == 3 && n2 == 1)
  }

  test("runner state survives restart via the persisted last-run file") {
    val state = Files.createTempDirectory("graft-sched").resolve("state.json").toString
    var runs = 0
    // a name that must be escaped as a JSON key
    val name = "nightly \"full\" run"
    def mk() = new Runner(
      Seq(Job(name, Interval(10 * Min), () => runs += 1)),
      startMs = t0, stateFile = Some(state))

    val r1 = mk()
    assert(r1.runPending(t0 + 10 * Min) == Seq(name) && runs == 1)
    // restart: a new runner over the same state file must NOT re-run the
    // tick that already ran, and must schedule from the persisted last run
    val r2 = mk()
    assert(r2.runPending(t0 + 15 * Min).isEmpty, "restart must not replay")
    assert(r2.runPending(t0 + 20 * Min) == Seq(name) && runs == 2)
  }

  test("a literal {name: epochMs} state file reads back and keeps its shape") {
    val dir = Files.createTempDirectory("graft-sched-literal")
    val state = dir.resolve("state.json")
    Files.write(state, s"""{"a":${t0 + 10 * Min},"b":$t0}""".getBytes("UTF-8"))
    val r = new Runner(Seq(
      Job("a", Interval(10 * Min), () => ()),
      Job("b", Interval(10 * Min), () => ()),
      Job("c", Interval(10 * Min), () => ())),
      startMs = t0 - 5 * Min, stateFile = Some(state.toString))
    val byName = r.due(Long.MaxValue).map(j => j.name -> r.nextDue(j)).toMap
    assert(byName == Map(
      "a" -> (t0 + 20 * Min), "b" -> (t0 + 10 * Min), "c" -> (t0 + 5 * Min)))
    // and the file it writes back keeps that shape, keys sorted
    assert(r.runPending(t0 + 10 * Min) == Seq("b", "c"))
    val written = new String(Files.readAllBytes(state), "UTF-8")
    assert(written == s"""{"a":${t0 + 10 * Min},"b":${t0 + 10 * Min},"c":${t0 + 10 * Min}}""")
  }

  test("a failing job is isolated: later jobs run, successes persist, the failure retries") {
    val state = Files.createTempDirectory("graft-sched-fail").resolve("state.json").toString
    var aRuns = 0; var bAttempts = 0; var cRuns = 0
    var bFail = true
    def mk() = new Runner(Seq(
      Job("a", Interval(10 * Min), () => aRuns += 1),
      Job("b", Interval(10 * Min), () => { bAttempts += 1; if (bFail) sys.error("boom") }),
      Job("c", Interval(10 * Min), () => cRuns += 1)),
      startMs = t0, stateFile = Some(state))

    val r1 = mk()
    assert(r1.runPending(t0 + 10 * Min) == Seq("a", "c"),
      "b's failure must not abort the tick or skip c")
    assert(aRuns == 1 && bAttempts == 1 && cRuns == 1)
    // restart: a and c were persisted despite b's failure (no replay);
    // b is still due and retries
    bFail = false
    val r2 = mk()
    assert(r2.runPending(t0 + 10 * Min + 1) == Seq("b"))
    assert(aRuns == 1 && bAttempts == 2 && cRuns == 1)
  }

  test("a scheduled AvailableNow drain composes with the runner (smoke)") {
    // the engine-shaped action: each tick drains whatever is pending —
    // here a counter stands in for StreamingExtract.runAvailableNow,
    // whose streaming semantics are covered by StreamingSpec
    var drains = 0
    val r = new Runner(
      Seq(Job("drain", Interval(30 * Min), () => drains += 1)), startMs = t0)
    (1 to 5).foreach(k => r.runPending(t0 + k * 30 * Min))
    assert(drains == 5)
  }
}
