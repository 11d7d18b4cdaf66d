package perfbench

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private val symbols = (0 until 50).map(i => f"${600000 + i}%06d.SS")
  private val calendar = (0 until 400).map(d => LocalDate.of(1995, 1, 2).plusDays(d).toString)

  test("tail rule: the highest order statistic with 10 samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    val (v, pct) = Stats.tail(scala.util.Random.shuffle(xs))
    assert(xs.count(_ > v) == 10 && v == 990.0)
    assert(pct == 100.0 * 989 / 999)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90.0, 100.0 * 89 / 99)))
  }

  test("tail rule: never below the median; with 10 samples or fewer, the maximum") {
    val fifteen = (1 to 15).map(_.toDouble)
    assert(Stats.tail(fifteen)._1 >= Stats.median(fifteen))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((10.0, 100.0)))
    assert(Stats.tail(Seq.empty)._1.isNaN)
  }

  test("the same seed gives the same call list; another seed another") {
    val a = Calls.api(7, symbols, calendar, rounds = 25)
    assert(a == Calls.api(7, symbols, calendar, rounds = 25))
    assert(a != Calls.api(8, symbols, calendar, rounds = 25))
    assert(Calls.serve(7, symbols, calendar, 200) == Calls.serve(7, symbols, calendar, 200))
    assert(Calls.serve(7, symbols, calendar, 200) != Calls.serve(8, symbols, calendar, 200))
  }

  test("every round holds each shape once; price windows are whole calendar spans") {
    val calls = Calls.api(11, symbols, calendar, rounds = 60)
    assert(calls.forall(_.map(_.shape).sorted == Calls.ApiShapes.sorted))
    val spans = calls.flatten.collect { case PriceCall(_, a, b) =>
      calendar.indexOf(b) - calendar.indexOf(a) + 1 }
    assert(spans.toSet == Calls.PriceWindows.toSet)
    assert(calls.flatten.collect { case h: HistoryCall => h.end }.distinct.size == 1)
  }

  test("a throwing call is counted failed and is never a latency sample") {
    val rec = new Recorder()
    rec.op("price") { o => o.phase("exec")(Thread.sleep(2)); true }
    rec.op("price") { o => o.phase("exec")(throw new IllegalStateException("planted")) }
    rec.check("ingest")(throw new RuntimeException("planted setup failure"))
    assert(rec.attempted == 3 && rec.failed == 2)
    assert(rec.walls().size == 1 && rec.walls().head >= 2.0)
    assert(rec.ops(1).error.exists(_.contains("planted")))
    assert(Metrics.endToEnd(rec, 1.0)("cpu_ms")._1 == rec.good.head.cpuMs)
  }

  test("the untimed output check is in neither the wall nor the CPU time") {
    val rec = new Recorder()
    rec.op("q") { o =>
      o.phase("exec")(())
      val t0 = System.nanoTime()
      var spins = 0L
      while (System.nanoTime() - t0 < 300000000L) spins += 1 // a 300 ms check
      spins > 0
    }
    assert(rec.ops.head.ok && rec.ops.head.wallMs < 100 && rec.ops.head.cpuMs < 100)
  }

  test("a planted wrong fingerprint is caught") {
    val cols = Seq("id", "s", "x")
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, null, -0.0), Row(3L, "c", Double.NaN))
    val fp = Fingerprint.of(cols, rows)
    assert(fp == Fingerprint.of(cols, rows.reverse), "order-independent")
    assert(fp == Fingerprint.of(cols, rows.map(r => if (r.getLong(0) == 2L) Row(2L, null, 0.0) else r)))
    assert(fp != Fingerprint.of(cols, rows.map(r => if (r.getLong(0) == 1L) Row(1L, "a", 0.5000001) else r)))
    assert(fp != Fingerprint.of(cols, rows :+ rows.head), "a duplicated row changes it")
    val planted = Map("q" -> fp.copy(hash = fp.hash.reverse))
    val rec = new Recorder()
    rec.op("q") { o => Fingerprint.matches("q", o.phase("exec")(Fingerprint.of(cols, rows)), planted) }
    rec.op("q") { o => Fingerprint.matches("q", o.phase("exec")(fp), Map("q" -> fp)) }
    assert(rec.failed == 1 && !rec.ops.head.ok && rec.ops(1).ok)
  }

  test("the fingerprint rule agrees with the DuckDB side (pinned in test_fingerprint.py)") {
    val rows = Seq(Row(1.5, 7L, "x", java.sql.Date.valueOf("2001-02-03"), Seq(1.0f, 2.0f)),
      Row(null, -2L, "y", null, Seq.empty[Float]))
    assert(Fingerprint.of(Seq("b", "A", "c", "d", "e"), rows) == Fingerprint(2, "934c418a4a45acef"))
  }
}
