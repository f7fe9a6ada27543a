package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from per-domain modules; each query name maps to a
  * SURVEY §2 operator row (or a beyond-reference pipeline operator) and has a
  * DuckDB oracle unless the op is not SQL-expressible.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    RelationalQueries,
    TextQueries,
    CurationQueries,
    DedupQueries,
    EmbeddingQueries,
    MultimodalQueries,
    DomainQueries
  )

  private lazy val all: Seq[QueryDef] = {
    val ds = modules.flatMap(_.defs)
    require(ds.map(_.name).distinct.size == ds.size, "duplicate query names")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all.head.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** `requested`, or the whole catalog sorted when empty. Every name is
    * checked before any query runs, so a typo fails up front, listing all.
    */
  def queryNames(requested: Seq[String]): Seq[String] = {
    val known = all.map(_.name)
    val unknown = requested.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (requested.isEmpty) known.sorted else requested
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
