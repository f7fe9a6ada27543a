package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** What the mains take from their command line and where their records
  * go: names are checked before a session starts, and one directory holds
  * every record.
  */
class MainArgsSpec extends AnyFunSuite with TempDirs {

  private val catalog = SparkEntry.queries.keys.toSeq.sorted

  test("Bench: no names benches the whole catalog, unstamped") {
    assert(Bench.selection(Nil) == (catalog, None))
  }

  test("Bench: a subset comes back in catalog order, deduplicated, and stamped") {
    val (names, diag) = Bench.selection(Seq("j7_left_coalesce", "j4_fact_chain", "j7_left_coalesce"))
    assert(names == Seq("j4_fact_chain", "j7_left_coalesce"))
    assert(diag.contains(""""diag":{"only":2}"""))
  }

  test("Bench: an unknown name fails and is named") {
    val e = intercept[IllegalArgumentException](Bench.selection(Seq("j4_fact_chain", "nope_query")))
    assert(e.getMessage.endsWith("unknown queries: nope_query"), e.getMessage)
  }

  test("Verify: the comma-separated filter selects its names, and no filter the whole catalog") {
    assert(Verify.selection(None) == catalog.toSet)
    assert(Verify.selection(Some("q1_agg, t11_span_dedup")) == Set("q1_agg", "t11_span_dedup"))
    val e = intercept[IllegalArgumentException](Verify.selection(Some("q1_agg,nope_query")))
    assert(e.getMessage.endsWith("unknown queries: nope_query"), e.getMessage)
  }

  test("outPath: the bare name without a directory, else the name inside it, created on write") {
    assert(Artifacts.outPath("bench_last.json", None) == "bench_last.json")
    assert(Artifacts.outPath("bench_last.json", Some("")) == "bench_last.json")
    val dir = tempDir("graft-out").resolve("a/b")
    val path = Artifacts.outPath("bench_last.json", Some(dir.toString))
    assert(path == dir.resolve("bench_last.json").toString)
    Artifacts.writeLine(path, "{}")
    Artifacts.upsertLine(Artifacts.outPath("x.json", Some(dir.resolve("c").toString)), "k", "{}")
    assert(Files.readString(dir.resolve("bench_last.json")) == "{}\n")
    assert(Files.readString(dir.resolve("c/x.json")) == "{}\n")
  }

  test("ScaleBench: a subset curve keeps the full-family line; a re-run replaces its own") {
    val out = tempFile("bench-scale", ".json").toString
    def curve(preset: String, families: Seq[String], calib: Double) =
      s"""{"metric":"scale_curve","preset":"$preset","calib":$calib,""" +
        families.map(f => s""""$f":[1.0]""").mkString(""""queries":{""", ",", "}}")
    def upsert(preset: String, families: Seq[String], calib: Double): Unit =
      Artifacts.upsertWhere(out, ScaleBench.sameCurve(preset, families), curve(preset, families, calib))
    val full = Seq("d8_scalable_dedup", "d17_fixed_eval", "v13_fixed_eval")
    val subset = Seq("d17_fixed_eval", "v13_fixed_eval")
    upsert("100tb", full, 0.1)
    upsert("demo", full, 0.2)
    upsert("100tb", subset, 0.3)
    upsert("100tb", subset.reverse, 0.4)
    upsert("100tb", full, 0.5)
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(java.nio.file.Paths.get(out))).asScala
    assert(lines == Seq(curve("demo", full, 0.2), curve("100tb", subset.reverse, 0.4), curve("100tb", full, 0.5)))
  }
}
