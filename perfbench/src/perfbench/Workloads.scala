package perfbench

import graft.Tables
import graft.queries.{CurationQueries, PipelineFns, TextQueries}
import graft.streaming.StreamingOps
import graft.vlm.{Ingest, QaPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What one iteration of a workload hands back: the figures the output
  * checks read, and a release step run after the iteration's timing and
  * heap probe (dropping cached intermediates).
  */
final case class Outcome(outputs: Map[String, Any], release: () => Unit = () => ())

object Workloads {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Forces the three planning phases, so the action that follows reuses them. */
  private def plan(df: DataFrame): Unit = {
    val qe = df.queryExecution
    qe.analyzed; qe.optimizedPlan; qe.executedPlan
  }

  val QaDataset = "bench"

  /** Phase 2: frame corpus → the nine QA tasks → per-task and combined JSON
    * sinks and the summary. Untraced, this is the single public entry point
    * `QaPipeline.run`; traced, the same public pieces run in the same order
    * with spans between them.
    */
  def qaFrames(spark: SparkSession, t: Tracer, corpus: String, out: String): Outcome = {
    t.tracedOnly(t.span("ingest.scan", "scan")(noop(Ingest.readFrames(spark, corpus))))
    val counts =
      if (!t.enabled) QaPipeline.run(spark, Ingest.readFrames(spark, corpus), QaDataset, out)
      else {
        val frames = t.span("ingest.read", "build")(Ingest.readFrames(spark, corpus))
        val tasks = QaPipeline.taskRegistry.keys.toSeq.sorted
        val perTask = t.span("qa.build", "group") {
          tasks.map(k => k -> t.span(s"qa.build.$k", "build")(
            QaPipeline.generate(frames, QaDataset, Seq(k))(k))).toMap
        }
        t.span("qa.plan", "plan")(perTask.values.foreach(plan))
        t.span("qa.sink", "group") {
          tasks.foreach(k => t.span(s"qa.sink.$k", "write")(
            perTask(k).write.mode("overwrite").json(s"$out/${QaDataset}_${k}_qa")))
        }
        t.span("qa.combined", "write")(QaPipeline.combined(perTask)
          .write.mode("overwrite").json(s"$out/${QaDataset}_all_qa_pairs"))
        t.span("qa.summary", "group") {
          val sum = t.span("qa.summary.build", "build")(QaPipeline.summary(perTask, QaDataset))
          val rows = t.span("qa.summary.collect", "execute")(sum.collect())
          t.span("qa.summary.write", "write")(
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), sum.schema)
              .coalesce(1).write.mode("overwrite").json(s"$out/${QaDataset}_summary"))
          rows.map(r => r.getAs[String]("task_type") -> r.getAs[Long]("total_questions")).toMap
        }
      }
    Outcome(Map("counts" -> counts))
  }

  /** The curation funnel as `graft.CorpusDemo` composes it: the documents
    * table replicated `copies`× in-plan, then quality signals → exact-dup →
    * LSH near-dup → decontamination → LM band → sample → budget selection →
    * packing → parquet export, through the same stage functions in the
    * same order. The seed only permutes the replica order inside each
    * document's explode, which no output depends on.
    */
  def curateDocs(spark: SparkSession, t: Tracer, docsDir: String, copies: Int, seed: Long,
      out: String): Outcome = {
    import PipelineFns.tokens
    val order = new scala.util.Random(seed).shuffle((0 until copies).toList)
    val raw = t.span("curate.read", "build") {
      Tables.documents(spark, docsDir)
        .select(col("doc_id"), col("source"), col("text"),
          explode(array(order.map(lit(_)): _*)).as("copy"))
        .select((col("doc_id") + col("copy") * 1000000000L).as("doc_id"),
          col("source"), col("text"))
    }
    t.tracedOnly(t.span("curate.scan", "scan")(noop(raw)))

    val sig = t.span("curate.signals", "group") {
      val sig = t.span("curate.signals.build", "build") {
        CurationQueries.curationSignals(raw)
          .withColumn("ch", md5(array_join(tokens(col("text")), " ")))
          .withColumn("keep_quality", CurationQueries.qualityGate)
          .withColumn("exact_rep", min(col("doc_id")).over(Window.partitionBy(col("ch"))))
          .withColumn("keep_sample", col("bucket") < CurationQueries.sampleRate)
          .cache()
      }
      t.tracedOnly(t.span("curate.signals.materialise", "execute")(sig.count()))
      sig
    }
    val reps = sig.filter(col("keep_quality") && col("doc_id") === col("exact_rep"))

    val hits = t.span("curate.near_dup", "build") {
      StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(reps.select(col("doc_id"), col("text"))))
        .select(col("doc_id")).distinct()
        .withColumn("near_dup", lit(true))
    }

    val isEvalMember = col("doc_id") < 1000000000L && col("doc_id") % 97 === 0
    val contaminated = t.span("curate.decon", "build") {
      val evalIdx = StreamingOps.collectEvalDocs(
        Tables.documents(spark, docsDir).filter(col("doc_id") % 97 === 0))
      StreamingOps.screenDocsFuzzy(reps.filter(!isEvalMember).select(col("doc_id"), col("text")), evalIdx)
        .select(col("doc_id")).withColumn("contaminated", lit(true))
    }

    val lm = t.span("curate.lm", "build") {
      TextQueries.unigramSurprisal(reps.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("in_band").as("lm_ok"))
    }

    val gates = Seq(col("keep_quality"), !col("exact_dup"), !col("near_dup"), !col("contaminated"),
      col("lm_ok"), col("keep_sample"))
    // stage k keeps the rows passing the first k gates
    def passing(k: Int) = gates.take(k).reduce(_ && _)
    val stageNames = Seq("input", "quality", "exact", "near", "decon", "lm", "sampled")

    val (funnel, stages) = t.span("curate.funnel", "group") {
      val (funnel, agg) = t.span("curate.funnel.build", "build") {
        val funnel = sig
          .join(hits, Seq("doc_id"), "left")
          .join(contaminated, Seq("doc_id"), "left")
          .join(lm, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("source"), col("n_tokens"),
            when(col("n_tokens") > 0,
              floor((col("n_tokens") - col("n_dup_tokens")).cast("double") * lit(1000000)
                / col("n_tokens").cast("double")).cast("long")).otherwise(lit(0L)).as("qi"),
            col("keep_quality"),
            (col("doc_id") =!= col("exact_rep")).as("exact_dup"),
            coalesce(col("near_dup"), lit(false)).as("near_dup"),
            (coalesce(col("contaminated"), lit(false)) || isEvalMember).as("contaminated"),
            coalesce(col("lm_ok"), lit(false)).as("lm_ok"),
            col("keep_sample"))
          .cache()
        val agg = funnel.agg(count(lit(1)).as("input"), stageNames.indices.tail.map(k =>
          coalesce(sum(when(passing(k), 1L).otherwise(0L)), lit(0L)).as(stageNames(k))): _*)
        (funnel, agg)
      }
      t.tracedOnly(t.span("curate.funnel.plan", "plan")(plan(agg)))
      val row = t.span("curate.funnel.aggregate", "execute")(agg.collect()(0))
      (funnel, stageNames.indices.map(k => stageNames(k) -> row.getLong(k)).toMap)
    }

    val (selected, budget, packs) = t.span("curate.budget", "group") {
      val selected = t.span("curate.budget.build", "build") {
        CurationQueries.budgetSelect(
          funnel.filter(passing(gates.size))
            .select(col("doc_id"), col("source"), col("n_tokens").as("nt"), col("qi")),
          PipelineFns.autoSegments(spark)).cache()
      }
      val budget = t.span("curate.budget.collect", "execute") {
        selected.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("kept_tokens"),
            max(col("target_tokens")).as("target_tokens")).collect()
          .map(r => Map("source" -> r.getString(0), "n_docs" -> r.getLong(1),
            "kept_tokens" -> r.getLong(2), "target_tokens" -> r.getLong(3))).toSeq
      }
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packs = t.span("curate.budget.pack", "execute") {
        selected
          .withColumn("start_offset", sum(col("nt")).over(w) - col("nt"))
          .withColumn("pack_id", (col("start_offset") / 4096L).cast("long"))
          .groupBy(col("source")).agg(countDistinct(col("pack_id")).as("n_packs"))
          .agg(coalesce(sum(col("n_packs")), lit(0L))).collect()(0).getLong(0)
      }
      (selected, budget, packs)
    }

    val shards = t.span("curate.export", "group") {
      t.span("curate.export.write", "write") {
        selected.select(col("doc_id"), col("source"), col("nt").as("n_tokens"), col("qi"))
          .write.mode("overwrite").option("maxRecordsPerFile", 500).parquet(out)
      }
      t.span("curate.export.count", "execute") {
        spark.read.parquet(out).select(input_file_name()).distinct().count()
      }
    }

    Outcome(
      Map("funnel" -> (stages ++ Map("budget_selected" -> budget.map(_("n_docs").asInstanceOf[Long]).sum,
        "packs" -> packs)), "budget" -> budget, "shards" -> shards),
      () => { selected.unpersist(true); funnel.unpersist(true); sig.unpersist(true) })
  }
}
