package graft

import graft.vlm.SparkSpec

/** Structural invariants of the query catalog — the properties the
  * correctness gate RELIES on, held as compile-adjacent assertions instead
  * of round-state facts:
  * every query is hard-oracle-gated (the "zero no_oracle entries"
  * contract), names follow the family_name convention the bench's
  * shortest-unambiguous-prefix keys depend on, and the flagship entry the
  * driver smoke-checks returns rows.
  */
class CatalogSpec extends SparkSpec {

  test("every catalog query has a DuckDB oracle (and no oracle is orphaned)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("oracle SQL is non-empty and free of unbalanced quoting") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      // a lone unbalanced single quote truncates the DuckDB statement; every
      // literal must close (escaped quotes '' count as two)
      assert(sql.count(_ == '\'') % 2 == 0, s"$name: unbalanced single quotes")
    }
  }

  test("query names are lowercase family_name identifiers") {
    SparkEntry.queries.keys.foreach { n =>
      assert(n.matches("[a-z][a-z0-9]*(_[a-z0-9]+)*"), s"bad query name: $n")
    }
  }

  test("oracle cents rescales pair the DECIMAL scale with the 10^s multiplier") {
    // the scaled-BIGINT cents contract appears in ~30 oracle strings; the
    // drift mode that silently breaks a gate is a scale edited without its
    // multiplier (DECIMAL(18,4) * 100). Pair-check every occurrence.
    val rescale = """AS DECIMAL\(18,(\d)\)\) \* (\d+) AS BIGINT""".r
    val bad = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      rescale.findAllMatchIn(sql).collect {
        case m if BigInt(10).pow(m.group(1).toInt) != BigInt(m.group(2)) =>
          s"$name: scale ${m.group(1)} with multiplier ${m.group(2)}"
      }
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("queryNames checks every requested name before any runs, and defaults to the catalog") {
    assert(SparkEntry.queryNames(Nil) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.queryNames(Seq("t11_span_dedup", "q1_agg")) == Seq("t11_span_dedup", "q1_agg"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryNames(Seq("q1_agg", "q1_agq", "t11_span_dedup", "nope")))
    assert(e.getMessage.endsWith("unknown queries: q1_agq, nope"), e.getMessage)
  }

  test("the flagship entry returns rows (the driver's smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
