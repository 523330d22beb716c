package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench contract's 2000-char-tail survival guarantee, spec-driven at
  * suite sizes the real inventory hasn't reached yet (the round-10/11
  * failure mode was discovering the overflow only when the driver's
  * artifact came back truncated). The invariant under test: for ANY suite
  * size up to 230+ queries, the LAST 2000 chars of the emission contain
  * (a) a fully-parseable JSON contract line and (b) every query's time,
  * recoverable either from the contract's own map (classic shape, small
  * suites) or from complete `bench-times` chunk lines (large suites). */
class BenchEmissionSpec extends AnyFunSuite {

  /** Synthetic inventory with the real one's name-length distribution. */
  private def synth(n: Int): Seq[(String, Double)] = {
    val series = Seq("q", "d", "t", "e", "s", "k", "m")
    (0 until n).map { i =>
      val name = s"${series(i % series.length)}${i / series.length + 1}"
      // deterministic spread of realistic times: 0.1 .. ~25 s
      name -> ((i % 250) / 10.0 + 0.1)
    }
  }

  private def spreadsFor(mins: Seq[(String, Double)]): Seq[(String, Double)] =
    mins.map { case (k, _) => k -> 1.2 }

  /** What the driver actually keeps: the last 2000 chars of stdout. */
  private def tailOf(lines: Seq[String]): String =
    (lines.mkString("\n") + "\n").takeRight(Bench.TailBudget)

  /** Recover every per-query time (in deciseconds) visible in the tail:
    * the contract's queries map if it survived, plus every COMPLETE
    * bench-times line. */
  private def recover(tail: String): Map[String, Long] = {
    val lines = tail.split("\n")
    val fromTimes = lines.filter(_.startsWith("bench-times ")).flatMap { l =>
      JsonMethods.parse(l.stripPrefix("bench-times ")) \ "t" match {
        case JString(payload) => payload.split(" ").map { e =>
          val Array(k, v) = e.split(":")
          k -> v.toLong
        }
        case _ => Array.empty[(String, Long)]
      }
    }.toMap
    val contract = lines.last
    val fromMap = JsonMethods.parse(contract) \ "queries" match {
      case JObject(fields) => fields.collect {
        case (k, JDouble(v)) => k -> math.round(v * 10)
        // integer map values are whole seconds — except the -1 sentinel
        case (k, JInt(v)) => k -> (if (v == -1) -1L else v.toLong * 10)
      }.toMap
      case _ => Map.empty[String, Long]
    }
    fromTimes ++ fromMap
  }

  test("small suites keep the classic contract shape with the queries map") {
    val mins = synth(150)
    val lines = Bench.emission(mins, spreadsFor(mins), 100.0, 0, "sf0.1")
    val tail = tailOf(lines)
    val contract = tail.split("\n").last
    assert((JsonMethods.parse(contract) \ "queries").isInstanceOf[JObject],
      "classic shape must survive while it fits — consumers parse it since r10")
    val got = recover(tail)
    mins.foreach { case (k, v) =>
      assert(got.get(k).contains(math.round(v * 10)), s"$k lost from the tail")
    }
  }

  test("the real-inventory shape keeps a driver-parsable map in the final line") {
    // 216 queries with the real suite's value distribution (two thirds
    // sub-second floor-bound, the rest 1-10 s) — the shape the driver
    // actually parses per-query times from (round 17: PERF_r16 came back
    // with empty per_query/scaling because the times lived in bench-times
    // side lines; the driver reads the FINAL JSON line only)
    val series = Seq("q", "d", "t", "e", "s", "k", "m")
    val mins = (0 until 216).map { i =>
      val name = s"${series(i % series.length)}${i / series.length + 1}"
      name -> (if (i % 3 == 2) (i % 80) / 10.0 + 1.0 else (i % 9) / 10.0 + 0.1)
    }
    val lines = Bench.emission(mins, spreadsFor(mins), 220.0, 0, "sf0.1")
    assert(lines.map(_.length + 1).sum <= Bench.TailBudget,
      s"the whole emission must fit the tail: ${lines.map(_.length + 1).sum}")
    val tail = tailOf(lines)
    val contract = JsonMethods.parse(tail.split("\n").last)
    assert((contract \ "metric") == JString("total"))
    assert((contract \ "failed") == JInt(0))
    assert((contract \ "queries").isInstanceOf[JObject],
      "the final line must carry the per-query map at the real suite size")
    val got = recover(tail)
    mins.foreach { case (k, v) =>
      // mixed-precision rung: values at/above the int threshold round to
      // whole seconds — recovered time within 0.5 s; below it, exact ds
      assert(got.get(k).exists(g => math.abs(g - math.round(v * 10)) <= 5),
        s"$k lost (or off by >0.5s) from the final-line map")
    }
  }

  test("the mixed-precision map never serializes a nonzero time as 0") {
    // 216 queries at 0.4 s: too long for every one-decimal rung, short
    // enough as whole seconds — a rung rounding to integers below 0.5 s
    // would emit each of them as 0
    val mins = synth(216).map { case (k, _) => k -> 0.4 }
    val lines = Bench.emission(mins, spreadsFor(mins), 86.4, 0, "sf0.1")
    val got = recover(tailOf(lines))
    mins.foreach { case (k, _) =>
      assert(got.get(k).contains(4L), s"$k: 0.4 s came back as ${got.get(k)} ds")
    }
  }

  test("a 230-query suite survives the 2000-char tail with every time recoverable") {
    val mins = synth(230)
    val lines = Bench.emission(mins, spreadsFor(mins), 400.0, 0, "sf0.1")
    assert(lines.map(_.length + 1).sum <= Bench.TailBudget,
      s"the whole emission must fit the tail: ${lines.map(_.length + 1).sum}")
    val tail = tailOf(lines)
    // the contract is the last line, complete and parseable (this synth
    // distribution averages ~11 s/query — far heavier than the real
    // inventory — so no map rung fits and the ds-chunked degradation
    // carries the times instead, at full decisecond resolution)
    val contract = JsonMethods.parse(tail.split("\n").last)
    assert((contract \ "metric") == JString("total"))
    assert((contract \ "failed") == JInt(0))
    val got = recover(tail)
    mins.foreach { case (k, v) =>
      assert(got.get(k).exists(g => math.abs(g - math.round(v * 10)) <= 5),
        s"$k lost from the tail at 230 queries — the r10 failure mode is back")
    }
  }

  test("failed queries keep their -1 sentinel through the chunked encoding") {
    val mins = synth(230).updated(7, "q2" -> -1.0)
    val lines = Bench.emission(mins, spreadsFor(mins), 400.0, 1, "sf0.1")
    val got = recover(tailOf(lines))
    assert(got.get("q2").contains(-1L), "the failure sentinel must survive")
    assert((JsonMethods.parse(lines.last) \ "failed") == JInt(1))
  }

  test("absurd suite sizes degrade by dropping leading chunks, never the contract") {
    val mins = synth(500)
    val lines = Bench.emission(mins, spreadsFor(mins), 900.0, 0, "sf0.1")
    val tail = tailOf(lines)
    val contract = JsonMethods.parse(tail.split("\n").last)
    assert((contract \ "metric") == JString("total"),
      "the contract line must stay last and parseable at any size")
    assert((contract \ "nq") == JInt(500))
    // whatever chunk lines made it through are complete and parseable
    recover(tail) // throws on a malformed surviving line
  }
}
