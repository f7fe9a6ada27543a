package graft.vlm

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry-driven QA generation orchestration — the Spark re-expression of
  * QA_generation/generate_qa.py:41-171 (§3.1 query lifecycle):
  * scan → per-task transform → per-task sink → combined union → summary.
  *
  * Unlike the reference (whole corpus materialized in driver memory,
  * data_loader.py:40-53), the corpus stays distributed; only per-partition
  * row counts and the summary aggregates ever reach the driver. Building a
  * task is eager: its id assignment ([[QaPrimitives.withContiguousIds]])
  * runs the task's jobs and stores its sorted rows on the executors, and
  * every sink after that reads those stored rows.
  */
object QaPipeline {

  /** Task registry (six 3D + three legacy 2D tasks); mirrors
    * config.py:17-88's dataset→tasks mapping by accepting an explicit task
    * list per run.
    */
  val taskRegistry: Map[String, (DataFrame, String) => DataFrame] = QaTasks.all ++ QaTasks2D.all

  def validateTasks(tasks: Seq[String]): Unit = {
    val unknown = tasks.filterNot(taskRegistry.contains)
    require(unknown.isEmpty, s"unknown tasks: ${unknown.mkString(", ")}; known: ${taskRegistry.keys.toSeq.sorted.mkString(", ")}")
  }

  /** Run the given tasks over a frame corpus, one after another; returns
    * per-task DataFrames over stored rows (see [[QaPrimitives.release]]).
    */
  def generate(
      frames: DataFrame,
      datasetName: String,
      tasks: Seq[String] = taskRegistry.keys.toSeq.sorted): Map[String, DataFrame] = {
    validateTasks(tasks)
    tasks.map(t => t -> taskRegistry(t)(frames, datasetName)).toMap
  }

  /** K3: combined output — unionByName over all task outputs. */
  def combined(perTask: Map[String, DataFrame]): DataFrame =
    perTask.toSeq.sortBy(_._1).map { case (t, df) => df.withColumn("task_type", lit(t)) }
      .reduce(_.unionByName(_))

  /** K4: summary aggregate — per-task question counts + totals
    * (generate_qa.py:147-163).
    */
  def summary(perTask: Map[String, DataFrame], datasetName: String): DataFrame =
    combined(perTask)
      .groupBy(col("task_type"))
      .agg(count(lit(1)).as("total_questions"))
      .withColumn("dataset", lit(datasetName))
      .withColumn("generated_date", date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"))

  /** Full run: per-task JSON sinks (K2), combined (K3), summary (K4).
    *
    * The tasks are built and sunk concurrently, one thread each, so one
    * task's driver-side planning and small jobs overlap the others' work.
    * The combined output and the summary then read the same stored rows.
    * Every stored row is released before returning. If a task fails, the
    * other tasks' jobs are cancelled, and once they have all stopped the
    * first error is rethrown.
    */
  def run(
      spark: SparkSession,
      frames: DataFrame,
      datasetName: String,
      outDir: String,
      tasks: Seq[String] = taskRegistry.keys.toSeq.sorted): Map[String, Long] = {
    validateTasks(tasks)
    require(tasks.nonEmpty, "no tasks to run")
    val sc = spark.sparkContext
    val tag = s"graft-qa-${java.util.UUID.randomUUID()}"
    val built = new ConcurrentLinkedQueue[DataFrame]()
    val firstError = new AtomicReference[Throwable]()
    val names = tasks.distinct
    val pool = Executors.newFixedThreadPool(names.size, (r: Runnable) => {
      val th = new Thread(r, "qa-task"); th.setDaemon(true); th
    })
    try {
      val work = names.map { t =>
        pool.submit[(String, DataFrame)](() => {
          sc.addJobTag(tag)
          try {
            val df = taskRegistry(t)(frames, datasetName)
            built.add(df) // released below even if its sink fails
            // a task built after another failed skips its sink: the run is lost
            if (firstError.get == null) df.write.mode("overwrite").json(s"$outDir/${datasetName}_${t}_qa")
            t -> df
          } catch {
            case e: Throwable =>
              if (firstError.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
              throw e
          }
        })
      }
      work.foreach(f => try f.get() catch { case _: ExecutionException => })
      Option(firstError.get).foreach(e => throw e)
      val perTask = work.map(_.get()).toMap
      combined(perTask).write.mode("overwrite").json(s"$outDir/${datasetName}_all_qa_pairs")
      val sum = summary(perTask, datasetName)
      // run the summary aggregation ONCE: collect the handful of per-task
      // rows, then write those rows
      val rows = sum.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sum.schema)
        .coalesce(1).write.mode("overwrite").json(s"$outDir/${datasetName}_summary")
      val counts = rows.map(r =>
        r.getAs[String]("task_type") -> r.getAs[Long]("total_questions")).toMap
      tasks.map(t => t -> counts.getOrElse(t, 0L)).toMap
    } finally {
      pool.shutdown()
      built.forEach(df => QaPrimitives.release(df))
    }
  }
}
