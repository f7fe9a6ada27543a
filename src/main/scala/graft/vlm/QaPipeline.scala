package graft.vlm

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.RangeBuckets
import QaPrimitives.QaTask

/** Registry-driven QA generation orchestration — the Spark re-expression of
  * QA_generation/generate_qa.py:41-171 (§3.1 query lifecycle):
  * scan → per-task transform → per-task sink → combined union → summary.
  *
  * Unlike the reference (whole corpus materialized in driver memory,
  * data_loader.py:40-53), the corpus stays distributed; only per-partition
  * row counts and a sample of `image_id`s ever reach the driver. A run
  * samples its `image_id` bounds once, from the frames
  * ([[QaPrimitives.imageIdBounds]]: one small job), and every task's id
  * step routes its rows to those ranges. Building a task is eager: its id
  * assignment, the id step of [[graft.RangeBuckets]]
  * ([[graft.RangeBuckets.withContiguousIds]]), runs the routed map
  * stage and the count job and stores its sorted rows on the executors,
  * every sink after that reads those stored rows, and the summary is made
  * from the row counts.
  */
object QaPipeline {

  /** Task registry (six 3D + three legacy 2D tasks); mirrors
    * config.py:17-88's dataset→tasks mapping by accepting an explicit task
    * list per run.
    */
  val taskRegistry: Map[String, QaTask] = QaTasks.all ++ QaTasks2D.all

  def validateTasks(tasks: Seq[String]): Unit = {
    val unknown = tasks.filterNot(taskRegistry.contains)
    require(unknown.isEmpty, s"unknown tasks: ${unknown.mkString(", ")}; known: ${taskRegistry.keys.toSeq.sorted.mkString(", ")}")
  }

  /** Run the given tasks over a frame corpus, one after another, over one
    * set of `image_id` bounds; returns per-task DataFrames over stored rows
    * (see [[graft.RangeBuckets.release]]).
    */
  def generate(
      frames: DataFrame,
      datasetName: String,
      tasks: Seq[String] = taskRegistry.keys.toSeq.sorted): Map[String, DataFrame] = {
    validateTasks(tasks)
    val bounds = QaPrimitives.imageIdBounds(frames)
    tasks.map(t => t -> taskRegistry(t)(frames, datasetName, bounds)).toMap
  }

  /** K3: combined output — unionByName over all task outputs. */
  def combined(perTask: Map[String, DataFrame]): DataFrame =
    perTask.toSeq.sortBy(_._1).map { case (t, df) => df.withColumn("task_type", lit(t)) }
      .reduce(_.unionByName(_))

  /** K4: summary — per-task question counts (generate_qa.py:147-163), one
    * row per task with questions. Built on the driver from the counts that
    * each task's id assignment found ([[graft.RangeBuckets.rowCount]]), so
    * neither building nor collecting it runs a Spark job; `perTask` must
    * hold the tasks' DataFrames as built.
    */
  def summary(perTask: Map[String, DataFrame], datasetName: String): DataFrame = {
    val spark = perTask.values.head.sparkSession
    val rows = perTask.toSeq.sortBy(_._1)
      .map { case (t, df) => (t, RangeBuckets.rowCount(df)) }
      .collect { case (t, n) if n > 0 => Row(t, n) }
    val schema = StructType(Seq(
      StructField("task_type", StringType, nullable = false),
      StructField("total_questions", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .withColumn("dataset", lit(datasetName))
      .withColumn("generated_date", date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"))
  }

  /** Full run: per-task JSON sinks (K2), combined (K3), summary (K4).
    *
    * The `image_id` bounds are sampled once, before any task is built.
    * The tasks are built and sunk concurrently, one thread each, so one
    * task's driver-side planning and small jobs overlap the others' work.
    * The combined output then reads the same stored rows; the summary and
    * the returned counts come from the tasks' row counts.
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
    val bounds = QaPrimitives.imageIdBounds(frames)
    val pool = Executors.newFixedThreadPool(names.size, (r: Runnable) => {
      val th = new Thread(r, "qa-task"); th.setDaemon(true); th
    })
    try {
      val work = names.map { t =>
        pool.submit[(String, DataFrame)](() => {
          sc.addJobTag(tag)
          try {
            val df = taskRegistry(t)(frames, datasetName, bounds)
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
      summary(perTask, datasetName).coalesce(1).write.mode("overwrite").json(s"$outDir/${datasetName}_summary")
      tasks.map(t => t -> RangeBuckets.rowCount(perTask(t))).toMap
    } finally {
      pool.shutdown()
      built.forEach(df => RangeBuckets.release(df))
    }
  }
}
