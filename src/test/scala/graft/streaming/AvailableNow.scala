package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Bounded replay for the `foreachBatch` serving and gating twins: run
  * the writer over everything currently in its source with
  * `Trigger.AvailableNow`, checkpointed at `checkpointDir`, and block
  * until the source is drained. */
object AvailableNow {
  def drain(writer: DataStreamWriter[Row], checkpointDir: String): Unit =
    writer.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
