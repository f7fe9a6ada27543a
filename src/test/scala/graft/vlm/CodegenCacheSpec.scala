package graft.vlm

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import FrameSchema._

/** A warm QA pass reuses the generated classes of the pass before it:
  * Spark's codegen cache, sized in `GraftSession.conf`
  * (`spark.sql.codegen.cache.maxEntries`), holds a whole pass, so running
  * the same pipeline again compiles nothing. At Spark's default of 100
  * entries the second run recompiles every class of the pass. The cache is
  * keyed by source text, so a pipeline must generate the same text under
  * whatever codegen stage id AQE gives it in a pass.
  *
  * The compile counter is JVM-global, so this relies on suites running one
  * at a time in the forked test JVM: build.sbt sets `Test / fork := true`
  * and no forked-parallel setting.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private val ident = Some(Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0), Seq(0, 0, 0, 1.0)))
  private val cats = Vector("chair", "table", "lamp", "person")

  private lazy val frames = (0 until 6).map { i =>
    val n = 1 + i % 3
    FrameRecord("cache", "s0", s"img_$i", Some(s"scene${i / 3}"), None, Some(i.toString), None, None, None,
      "none", Camera(500, 500, 320, 240, 640, 480, Seq(Seq(500.0, 0, 320), Seq(0, 500.0, 240), Seq(0.0, 0, 1)),
        ident),
      None,
      (0 until n).map(b => Bbox2D(10, 20, 30 + 10 * b, 40, None, cats((i + b) % cats.size))),
      (0 until n).map(b => Bbox3D(-2.0 + b, 0.5, 2.0 + 0.7 * b, 1, 1, 1, 0, 0.25, 0, cats((i + b) % cats.size))),
      None)
  }.toDF()

  test("a second QaPipeline.run over the same frames compiles no class") {
    val out = tempDir("graft_codegen").toString
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    val counts = QaPipeline.run(spark, frames, "cache", out)
    val c1 = compiles
    assert(QaPipeline.run(spark, frames, "cache", out) == counts)
    val c2 = compiles
    assert(counts.values.sum > 0)
    assert(c2 - c1 == 0, s"the warm run compiled ${c2 - c1} classes (the first run ${c1 - c0})")
  }

  test("a whole-stage pipeline generates the same source under any codegen stage id") {
    val plan = spark.range(100).selectExpr("id * 2 AS x").filter("x % 3 = 0").queryExecution.executedPlan
    val wsc = plan.collectFirst { case w: WholeStageCodegenExec => w }.getOrElse(fail(s"no codegen stage in\n$plan"))
    val Seq(a, b) = Seq(wsc.codegenStageId, wsc.codegenStageId + 7).map(id => wsc.copy(wsc.child)(id).doCodeGen()._2)
    assert(a == b, s"${a.body.take(400)}\n---\n${b.body.take(400)}")
  }
}
