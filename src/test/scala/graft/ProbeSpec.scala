package graft

import java.io.ByteArrayOutputStream
import graft.tools.Probe
import org.apache.spark.sql.ListenerCensus

/** Each `graft.tools.Probe` mode once at sf0.001 on the shared session:
  * what it prints, and that it leaves the session as it found it. */
class ProbeSpec extends TestSpark {
  private val q = "q03_agg_groupby"

  private def probeListeners: Seq[String] =
    ListenerCensus.classNames(spark).filter(_.startsWith("graft.tools.Probe"))

  /** Stdout of one `Probe.run`, which must unregister what it registered. */
  private def probe(args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, args, sfDir))
    assert(probeListeners.isEmpty, args)
    out.toString("UTF-8")
  }

  test("time prints the samples/median line tools/bench_isolated.sh parses") {
    val out = probe("time", q, "2")
    assert(out.linesIterator.exists(
      _.matches(s"$q samples=[0-9.]+,[0-9.]+ median=[0-9.]+")), out)
  }

  test("ab restores the conf it varies, whether it was set before or not") {
    Seq("spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.join.preferSortMergeJoin").foreach { key =>
      val before = spark.conf.getAll.get(key)
      val out = probe("ab", q, key, "false", "true", "1")
      assert(out.contains(s"A ($key=false): median") &&
        out.contains(s"B ($key=true): median"), out)
      assert(spark.conf.getAll.get(key) === before, key)
    }
  }

  test("jobs reports at least one job") {
    val out = probe("jobs", q, "1")
    val n = raw"--- $q sample 1: (\d+) jobs".r.findFirstMatchIn(out)
      .map(_.group(1).toInt)
    assert(n.exists(_ >= 1), out)
    assert(out.contains("  job "), out)
  }

  test("plan prints the final adaptive plan and restores conf= settings") {
    assert(probe("plan", q).contains("isFinalPlan=true"))
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val out = probe("plan", q, "fmt=formatted", s"conf=$key:3")
    assert(out.contains("== Physical Plan =="), out)
    assert(spark.conf.get(key) === before)
  }

  test("cc prints the per-step change counts of the three pair graphs") {
    val out = probe("cc")
    Seq("d07", "d10", "m06").foreach { g =>
      assert(out.contains(s"[ccprobe] $g: per-step changes"), out)
    }
  }

  test("a malformed call fails before it runs anything") {
    Seq(Seq("nope"), Seq("time"), Seq("ab", q, "k", "a"),
        Seq("jobs", "conf=k:v"), Seq("time", q, "conf=novalue")).foreach { a =>
      intercept[IllegalArgumentException](probe(a: _*))
    }
  }

  test("the session is still usable after the probes") {
    assert(probeListeners.isEmpty)
    assert(spark.range(10).count() === 10)
  }
}
