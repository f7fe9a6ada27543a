package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the input-sized shuffle-parallelism rule
  * ([[GraftSession.initialPartitions]]) to its two MEASURED operating
  * points (round-14 evidence): demo-scale corpora start at 1× cores (a
  * flat 2× cost sub-second queries 64-task scheduling overhead AQE cannot
  * recover) and the ×10 corpus (~175 MB) starts at 2× (exactly-32
  * partitions spilled ~2.9 GB/query there; 64 returned spill to zero) —
  * plus the 4× cap (measured: 4× made banded dedup ~40% slower at ×10,
  * so growth past it must come from added cores, not more partitions).
  */
class SessionSizingSpec extends AnyFunSuite with TempDirs {

  test("demo-scale input keeps the 1x start") {
    assert(GraftSession.initialPartitions(18L << 20, 32) == 32)
    assert(GraftSession.initialPartitions(0L, 32) == 32) // missing dir
    assert(GraftSession.initialPartitions(96L << 20, 32) == 32) // boundary: 3MB/core
  }

  test("x10-corpus input steps to the measured spill-free 2x") {
    assert(GraftSession.initialPartitions(175L << 20, 32) == 64)
    assert(GraftSession.initialPartitions(97L << 20, 32) == 64) // just past the step
  }

  test("growth caps at 4x cores — added cores, not more partitions per core, past it") {
    assert(GraftSession.initialPartitions(1L << 30, 32) == 128)
    assert(GraftSession.initialPartitions(1L << 40, 32) == 128)
  }

  test("counts are core multiples at any core count (even wave scheduling)") {
    for (cores <- Seq(4, 8, 32, 96); bytes <- Seq(0L, 50L << 20, 500L << 20, 5L << 30)) {
      val n = GraftSession.initialPartitions(bytes, cores)
      assert(n % cores == 0 && n >= cores && n <= 4 * cores, s"cores=$cores bytes=$bytes -> $n")
    }
  }

  test("dirBytes walks a directory tree and tolerates a missing path") {
    val dir = tempDir("graft_sizing").toFile
    val sub = new java.io.File(dir, "sub"); sub.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "a.parquet").toPath, new Array[Byte](1000))
    java.nio.file.Files.write(new java.io.File(sub, "b.parquet").toPath, new Array[Byte](234))
    assert(GraftSession.dirBytes(dir.getAbsolutePath) == 1234L)
    assert(GraftSession.dirBytes(dir.getAbsolutePath + "/nope") == 0L)
  }
}
