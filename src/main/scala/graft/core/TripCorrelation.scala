package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.schema._

/** Start/end trip correlation — the heart of the reference pipeline
  * (SURVEY.md §2.4 J1, §2.3 F3/F4, §2.7).
  *
  * Batch form: a single equi-join on `trip_id`; Catalyst picks
  * broadcast vs sort-merge, and at 100 TB both sides arrive
  * hash-partitioned on the key so the join is one shuffle each side
  * (or zero if the trips table is bucketed by trip_id).
  *
  * Streaming form: `flatMapGroupsWithState` keyed by `trip_id` — the
  * Spark-native replacement for the reference's per-record DynamoDB
  * get_item/put_item round-trips (reference: trip_processor.py:54-78).
  * One shuffle per micro-batch replaces 2 RPCs per trip. Events are
  * grouped by the `trip_id` column, not a `groupByKey` lambda, so rows
  * reach the shuffle without a decode-to-object-and-back per event; the
  * state key is the same string either way, and checkpoints written
  * under the lambda grouping restart under this one.
  *
  * Two fidelity modes (SURVEY.md §7.4):
  *  - faithful=true  — reproduces the reference's lossy accidents:
  *    an end with no stored start is dropped forever
  *    (trip_processor.py:60-62) and an end with a null telemetry quad
  *    never completes its trip (the Decimal('NaN') write-rejection at
  *    trip_processor.py:16-23,82-84).
  *  - faithful=false — robust mode: early ends are buffered in state
  *    until the start arrives, and null-telemetry ends complete the
  *    trip (downstream KPI filters decide what to exclude).
  */
object TripCorrelation {

  import TripSchemas._

  /** F4 predicate: telemetry quad fully present. */
  def telemetryComplete(df: DataFrame): org.apache.spark.sql.Column =
    telemetryQuad.map(df(_).isNotNull).reduce(_ && _)

  /** Batch correlation: one pass, one join.
    *
    * Starts become `Started` records with the derived `date` partition
    * column; ends that pass the fidelity gate upgrade their record to
    * `Completed`. Ends without a matching start are dropped (F3) — they
    * are visible through [[droppedEnds]] instead.
    */
  def correlate(starts: DataFrame, ends: DataFrame, faithful: Boolean = true): DataFrame = {
    val gatedEnds = if (faithful) ends.where(telemetryComplete(ends)) else ends
    // Redelivered / duplicate events: the reference's put_item keeps
    // exactly one record per trip (last write wins, trip_processor.py:78).
    // Keep the latest event per trip_id on BOTH sides so a duplicate
    // feed cannot multiply join output rows.
    import org.apache.spark.sql.expressions.Window
    def latestPer(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val w = Window.partitionBy(col("trip_id")).orderBy(orderCols: _*)
      df.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .drop("__rn")
    }
    val dedupedEnds = latestPer(gatedEnds,
      Seq(col("dropoff_datetime").desc_nulls_last, col("fare_amount").desc_nulls_last))
    val dedupedStarts = latestPer(starts,
      Seq(col("pickup_datetime").desc_nulls_last, col("estimated_fare_amount").desc_nulls_last))
    // left join keeps every start (Started until completed), drops
    // unmatched ends — exactly the reference's store-then-merge shape.
    dedupedStarts
      .join(dedupedEnds, Seq("trip_id"), "left_outer")
      .withColumn("date", to_date(col("pickup_datetime")))
      .withColumn(
        "status",
        when(col("dropoff_datetime").isNotNull, lit(StatusCompleted))
          .otherwise(lit(StatusStarted)))
  }

  /** J3 diagnostic: end events that arrived with no stored start — the
    * set the reference logs-and-drops (trip_processor.py:60-62).
    */
  def droppedEnds(starts: DataFrame, ends: DataFrame): DataFrame =
    ends.join(starts, Seq("trip_id"), "left_anti")

  // ---------------------------------------------------------------------
  // Streaming
  // ---------------------------------------------------------------------

  /** Keyed correlation state: the stored record, plus (robust mode only)
    * an end event buffered before its start arrived.
    */
  final case class CorrelationState(
      record: Option[TripRecord],
      bufferedEnd: Option[TripEnd])

  /** Streaming correlation via flatMapGroupsWithState.
    *
    * Emits the record after each state change (Started on start,
    * Completed on merge) — Update output semantics, last-write-wins at
    * the sink, exactly the reference's put_item overwrite.
    *
    * State is bounded by EVENT time: with `timeoutMs > 0` the input is
    * watermarked on `event_ts` (`watermarkDelay` tolerates the
    * producer's 5-minute start/end skew, send_to_kinesis.py:73-75) and a
    * group that stays incomplete past watermark+timeout is evicted and
    * emitted once with status `Expired` — the fix for the reference's
    * unbounded DynamoDB table (SURVEY.md §7.4.2). Event-time, not
    * wall-clock: a backlog replay advances the watermark with the data,
    * so trips never expire mid-replay.
    */
  def correlateStream(
      events: Dataset[TripEvent],
      faithful: Boolean = true,
      timeoutMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): Dataset[TripRecord] = {
    import events.sparkSession.implicits._
    val (input, timeoutConf) =
      if (timeoutMs > 0)
        (events.withWatermark("event_ts", watermarkDelay), GroupStateTimeout.EventTimeTimeout)
      else (events, GroupStateTimeout.NoTimeout)
    input
      .groupBy(col("trip_id")).as[String, TripEvent]
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        processGroup(faithful, timeoutMs))
  }

  /** Batch-mode harness over the same state logic (for tests and for
    * replaying a backlog through identical semantics).
    */
  def correlateBatchViaState(
      events: Dataset[TripEvent],
      faithful: Boolean = true): Dataset[TripRecord] = {
    import events.sparkSession.implicits._
    events
      .groupBy(col("trip_id")).as[String, TripEvent]
      .flatMapGroups { (key, it) =>
        var st = CorrelationState(None, None)
        val out = Seq.newBuilder[TripRecord]
        // Within one replayed group, apply starts before ends — the
        // producer's 5-minute head start (send_to_kinesis.py:73-75).
        val (starts, rest) = it.toSeq.partition(_.kind == TripEvent.KindStart)
        (starts ++ rest).foreach { ev =>
          val (next, emitted) = step(st, ev, faithful)
          st = next
          out ++= emitted
        }
        out.result().lastOption.iterator
      }
  }

  private def processGroup(faithful: Boolean, timeoutMs: Long)(
      key: String,
      events: Iterator[TripEvent],
      state: GroupState[CorrelationState]): Iterator[TripRecord] = {
    if (state.hasTimedOut) {
      // Evict: an incomplete stored record becomes Expired; a robust-mode
      // buffered end with no record becomes an end-only Expired record
      // (its fare must not silently vanish with the state).
      val expired = state.getOption.flatMap { st =>
        st.record
          .filter(_.status != StatusCompleted)
          .map(_.copy(status = StatusExpired))
          .orElse(st.bufferedEnd.map(TripRecord.ofEndOnly))
      }
      state.remove()
      expired.iterator
    } else {
      var st = state.getOption.getOrElse(CorrelationState(None, None))
      val out = Seq.newBuilder[TripRecord]
      // Starts first within a micro-batch: both kinds can land in the
      // same trigger and the merge needs the stored record to exist.
      val evs = events.toSeq
      val (starts, rest) = evs.partition(_.kind == TripEvent.KindStart)
      (starts ++ rest).foreach { ev =>
        val (next, emitted) = step(st, ev, faithful)
        st = next
        out ++= emitted
      }
      if (st.record.isDefined || st.bufferedEnd.isDefined) {
        state.update(st)
        // Event-time timeout anchored to the GROUP's own event time
        // (not the stream watermark: before the first watermark update
        // that is epoch 0, which would expire every young group on the
        // next trigger). Clamped above the current watermark as the API
        // requires.
        if (timeoutMs > 0) {
          val maxEventMs = evs.flatMap(_.event_ts).map(_.getTime)
            .maxOption.getOrElse(0L)
          val base = math.max(maxEventMs, state.getCurrentWatermarkMs())
          state.setTimeoutTimestamp(base + timeoutMs)
        }
      }
      out.result().iterator
    }
  }

  /** One event against one group's state → (new state, emitted records).
    * Pure function so batch/streaming/property tests share it.
    */
  private[core] def step(
      st: CorrelationState,
      ev: TripEvent,
      faithful: Boolean): (CorrelationState, Seq[TripRecord]) = ev match {

    case TripEvent(_, TripEvent.KindStart, Some(s), _, _) =>
      // put_item overwrite: a duplicate start resets the record
      // (last-write-wins, trip_processor.py:54).
      val rec = TripRecord.ofStart(s)
      st.bufferedEnd match {
        case Some(e) if !faithful =>
          val done = TripRecord.complete(rec, e)
          (CorrelationState(Some(done), None), Seq(done))
        case _ =>
          (st.copy(record = Some(rec)), Seq(rec))
      }

    case TripEvent(_, TripEvent.KindEnd, _, Some(e), _) =>
      st.record match {
        case Some(rec) =>
          if (faithful && !e.telemetryComplete) (st, Nil) // F4: stays Started
          else {
            val done = TripRecord.complete(rec, e)
            (st.copy(record = Some(done)), Seq(done))
          }
        case None =>
          if (faithful) (st, Nil) // F3: end-before-start dropped forever
          else (st.copy(bufferedEnd = Some(e)), Nil)
      }

    case _ => (st, Nil) // malformed union row — poison record, skipped
  }
}
