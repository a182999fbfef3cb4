package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Env

class HarnessSpec extends AnyFunSuite {

  // ---------------- Env: malformed knobs fail fast, by name ----------------

  private def env(kv: (String, String)*) = new Env(kv.toMap.get)

  private def rejects(name: String, raw: String)(read: Env => Any): Unit = {
    val e = intercept[IllegalArgumentException](read(env(name -> raw)))
    assert(e.getMessage.contains(name) && e.getMessage.contains(s""""$raw""""),
      e.getMessage)
  }

  test("unset knobs read their defaults; well-formed values parse") {
    val e = env("A" -> "7", "B" -> " 9000000000 ", "C" -> "0.25",
      "D" -> "TRUE", "E" -> "0", "F" -> "")
    assert(e.int("A", 1) == 7 && e.int("MISSING", 1) == 1)
    assert(e.long("B", 1L) == 9000000000L)
    assert(e.double("C", 1.0) == 0.25)
    assert(e.bool("D", false) && !e.bool("E", true) && e.bool("MISSING", true))
    assert(e.str("F", "dflt") == "" && e.str("MISSING", "dflt") == "dflt")
    assert(e.opt("F").contains("") && e.opt("MISSING").isEmpty)
  }

  test("non-numeric values name the variable and the value") {
    rejects("SPARK_GRAFT_CPUS", "eight")(_.int("SPARK_GRAFT_CPUS", 32))
    rejects("SPARK_GRAFT_WIDE_TASK_BYTES", "64KB")(
      _.long("SPARK_GRAFT_WIDE_TASK_BYTES", 65536))
    rejects("SPARK_GRAFT_STALL_MAX", "5s")(_.double("SPARK_GRAFT_STALL_MAX", 5.0))
    rejects("SPARK_GRAFT_STALL_MAX", "NaN")(_.double("SPARK_GRAFT_STALL_MAX", 5.0))
    rejects("SPARK_GRAFT_WITNESS", "off")(_.bool("SPARK_GRAFT_WITNESS", true))
  }

  test("empty values are malformed, not unset") {
    rejects("SPARK_GRAFT_BENCH_RUNS", "")(_.int("SPARK_GRAFT_BENCH_RUNS", 3))
    rejects("SPARK_GRAFT_WIDE_TASK_BYTES", "")(
      _.long("SPARK_GRAFT_WIDE_TASK_BYTES", 65536))
    rejects("SPARK_GRAFT_SKEW_HOTFRAC", "")(_.double("SPARK_GRAFT_SKEW_HOTFRAC", 0.05))
    rejects("SPARK_GRAFT_ASOF_NAIVE", "")(_.bool("SPARK_GRAFT_ASOF_NAIVE", true))
  }

  test("out-of-range values name the variable and the value") {
    rejects("SPARK_GRAFT_CPUS", "0")(_.int("SPARK_GRAFT_CPUS", 32, min = 1))
    rejects("SPARK_GRAFT_CPUS", "99999999999")(_.int("SPARK_GRAFT_CPUS", 32))
    rejects("SPARK_GRAFT_WIDE_TASK_BYTES", "-1")(
      _.long("SPARK_GRAFT_WIDE_TASK_BYTES", 65536, min = 1))
    rejects("SPARK_GRAFT_ASOF_HOTPCT", "101")(
      _.int("SPARK_GRAFT_ASOF_HOTPCT", 10, min = 0, max = 100))
    rejects("SPARK_GRAFT_SKEW_HOTFRAC", "1.5")(
      _.double("SPARK_GRAFT_SKEW_HOTFRAC", 0.05, max = 1))
  }

  // ---------------- median ----------------

  test("median: odd and even counts, -1 failure sentinels skipped") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(5.0, -1.0, 1.0)) == 3.0)
    assert(Harness.median(Seq(-1.0, 7.0, -1.0)) == 7.0)
    assert(Harness.median(Seq(-1.0, -1.0)) == -1.0)
    assert(Harness.median(Nil) == -1.0)
  }

  // ---------------- alternate ----------------

  test("alternate reverses arm order on odd runs and keeps per-arm series") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    var betweens = 0
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Map[String, Double])]
    val out = Harness.alternate(3, Seq("a" -> 0, "b" -> 1, "c" -> 2),
        () => betweens += 1) { (r, arm) =>
      calls += s"$r${"abc"(arm)}"; r * 10.0 + arm
    } { (r, got, stall) => seen += ((r, got)); assert(stall >= 0) }
    assert(calls == Seq("0a", "0b", "0c", "1c", "1b", "1a", "2a", "2b", "2c"))
    assert(betweens == 9)
    assert(out.times == Map("a" -> Seq(0.0, 10.0, 20.0),
      "b" -> Seq(1.0, 11.0, 21.0), "c" -> Seq(2.0, 12.0, 22.0)))
    assert(Harness.median(out.times("b")) == 11.0 && out.stallSec.size == 3)
    assert(seen.map(_._1) == Seq(0, 1, 2) &&
      seen(1)._2 == Map("a" -> 10.0, "b" -> 11.0, "c" -> 12.0))
  }
}
