package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.core.TripCorrelation.CorrelationState
import graft.schema._

/** The correlator's state key moved from a `groupByKey(_.trip_id)`
  * lambda to the `trip_id` column. Both key the state by the same
  * string; this pins that a checkpoint written under the lambda grouping
  * restarts under the column grouping with its state intact.
  */
class CorrelationRestartSpec extends AnyFunSuite with Matchers with SparkTestBase {

  import CorrelationRestartSpec.countSides

  private def ts(s: String) = Some(Timestamp.valueOf(s))

  private def start(id: String) = TripEvent.ofStart(
    TripStart(id, Some(1), Some(2), Some(1), ts("2024-05-25 10:00:00"), None, Some(20.0)))

  private def end(id: String) = TripEvent.ofEnd(
    TripEnd(id, ts("2024-05-25 10:25:00"), Some(1), Some(2), Some(3.0),
      Some(24.5), Some(2.0), Some(1), Some(1)))

  test("a checkpoint written under groupByKey(_.trip_id) restarts under the column grouping") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-restart")
    val in = Files.createDirectories(dir.resolve("in"))
    val checkpoint = dir.resolve("checkpoint").toString
    def write(name: String, events: TripEvent*): Unit =
      Files.write(in.resolve(name),
        spark.createDataset(events).toJSON.collect().mkString("\n").getBytes(StandardCharsets.UTF_8))
    val events = spark.readStream
      .schema(Encoders.product[TripEvent].schema).json(in.toString).as[TripEvent]
    // foreachBatch, not the memory sink: the memory sink cannot recover
    // an update-mode query from its checkpoint
    def drain(counts: Dataset[(String, Int)]): Set[(String, Int)] = {
      val emitted = Set.newBuilder[(String, Int)]
      counts.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((batch: Dataset[(String, Int)], _: Long) => { emitted ++= batch.collect(); () })
        .start()
        .awaitTermination()
      emitted.result()
    }

    write("1.json", start("t1"), end("t2"))
    drain(events.groupByKey(_.trip_id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(countSides _))
      .shouldBe(Set("t1" -> 1, "t2" -> 1))

    write("2.json", end("t1"), start("t2"), start("t3"))
    drain(events.groupBy(col("trip_id")).as[String, TripEvent]
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(countSides _))
      .shouldBe(Set("t1" -> 2, "t2" -> 2, "t3" -> 1))
  }
}

object CorrelationRestartSpec {

  /** Over the correlator's own state type: a start stores its record, an
    * end is buffered; emits how many sides of the trip the state holds.
    */
  private def countSides(
      key: String,
      events: Iterator[TripEvent],
      state: GroupState[CorrelationState]): Iterator[(String, Int)] = {
    val st = events.foldLeft(state.getOption.getOrElse(CorrelationState(None, None))) {
      (st, ev) =>
        if (ev.kind == TripEvent.KindStart) st.copy(record = ev.start.map(TripRecord.ofStart))
        else st.copy(bufferedEnd = ev.end)
    }
    state.update(st)
    Iterator(key -> (st.record.size + st.bufferedEnd.size))
  }
}
