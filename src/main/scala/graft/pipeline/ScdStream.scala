package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Stage

/** Cron-scheduled automation of the pipeline — the Spark re-expression of
  * the reference's task DAG root (`SCD-Automation.sql:34-38`:
  * `SCHEDULE = '1 minute'`; SURVEY.md §2.7 W2-W4, §3.2).
  *
  * Structured Streaming file source over the stage directory +
  * `foreachBatch(runCycle)`:
  *   - the 1-minute cron → `Trigger.ProcessingTime("1 minute")`;
  *   - COPY INTO's per-file load history (idempotence) → the checkpoint's
  *     processed-file log;
  *   - `PURGE = TRUE` → `cleanSource=delete`;
  *   - task RESUME/SUSPEND (`SCD-Automation.sql:108-122`) →
  *     `start()` / `StreamingQuery.stop()`;
  *   - TASK_HISTORY → [[ScdPipeline.taskHistory]].
  *
  * Scale: the file source lists incrementally (`maxFilesPerTrigger` bounds a
  * tick), foreachBatch runs the same atomic cycle as batch mode, and the
  * checkpoint makes restarts exactly-once per input file even though each
  * cycle rewrites its tables — a replayed batch re-merges rows that are
  * already present, which the upsert + SCD2 anti-join absorb idempotently
  * when values are unchanged.
  *
  * The cycle's overlapped writes run on threads it creates inside the
  * foreachBatch call ([[graft.core.Overlap]]), so they inherit the
  * micro-batch's job group and SQL execution, as the batch's own thread's
  * jobs do, and end before the call returns. `StreamingQuery.stop()`
  * therefore cancels their jobs with the batch's, and its interrupt is
  * passed on to them; the micro-batch fails only after every write has
  * returned, with nothing committed.
  */
object ScdStream {

  def start(
      pipeline: ScdPipeline,
      stage: Stage,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
      purge: Boolean = true,
      clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
    : StreamingQuery = {

    val spark = pipeline.spark
    var reader = spark.readStream
      .schema(pipeline.config.baseSchema)
      .options(Stage.csvOptions)
    if (purge) reader = reader.option("cleanSource", "delete")

    reader.csv(stage.dir)
      .writeStream
      .queryName("scd_cycle")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          pipeline.runCycleWithBatch(batch, clock())
        }
        ()
      }
      .start()
  }
}
