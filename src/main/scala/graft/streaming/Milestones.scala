package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig}

/** Streaming face of the spend-milestone alert
  * ([[graft.operators.EventOps.spendMilestones]]) on Spark 4's
  * `transformWithState` — the arbitrary-state API that replaces
  * `mapGroupsWithState` (typed per-key `ValueState` handles, TTL configs,
  * timers; requires the RocksDB state store provider when streaming).
  *
  * One `ValueState[Long]` per user — the lifetime cumulative cents — is
  * all the state the alert needs: a purchase crossing a `stepCents`
  * multiple emits one milestone row (the highest multiple reached, so a
  * single large purchase that jumps several marks emits once). Rows
  * within a micro-batch are ordered by (ts, event_id), the batch face's
  * window order, so a burst split across micro-batches still crosses each
  * mark exactly once — the cumulative state carries over where a
  * per-batch window would re-count from zero. The spec proves
  * stream ≡ batch on a mid-user batch split.
  */
object Milestones {

  case class Purchase(user_id: Long, ts: Timestamp, value: Double, event_id: Long)
  case class Milestone(user_id: Long, event_id: Long,
                       milestone_cents: Long, cum_cents: Long)

  private class SpendProcessor(stepCents: Long, ttl: TTLConfig)
      extends StatefulProcessor[Long, Purchase, Milestone] {
    @transient private var cum: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong, ttl)

    override def handleInputRows(key: Long, rows: Iterator[Purchase],
                                 timerValues: TimerValues): Iterator[Milestone] = {
      def micros(t: Timestamp): Long =
        t.getTime * 1000 + (t.getNanos / 1000) % 1000
      val sorted = rows.toSeq.sortBy(p => (micros(p.ts), p.event_id))
      var c = if (cum.exists()) cum.get() else 0L
      val out = Seq.newBuilder[Milestone]
      sorted.foreach { p =>
        val cents = math.round(p.value * 100)
        val next = c + cents
        // floorDiv, not `/`: the batch face floors (matching DuckDB `//`),
        // and refunds can drive the cumulative negative.
        if (Math.floorDiv(next, stepCents) > Math.floorDiv(c, stepCents))
          out += Milestone(key, p.event_id,
            Math.floorDiv(next, stepCents) * stepCents, next)
        c = next
      }
      cum.update(c)
      out.result().iterator
    }
  }

  /** Streaming entry point (requires the RocksDB state store provider);
    * the BATCH face is [[graft.operators.EventOps.spendMilestones]] —
    * the oracled window query the spec proves this processor equal to.
    *
    * `ttl`: retention for the per-user cumulative — an expired user
    * restarts from zero on their next purchase (the dormant-customer
    * reset a loyalty program actually wants, and the bound that keeps
    * RocksDB state from growing with the all-time user count). TTL
    * requires processing-time semantics, so a non-NONE ttl switches
    * the processor to TimeMode.ProcessingTime; the spec pins both the
    * expiry reset and restart-from-checkpoint state survival. A
    * ProcessingTime transformWithState always asks for another batch
    * (Spark 4.1), so a caller driving a ttl'd query with
    * `Trigger.AvailableNow()` must set
    * `spark.sql.streaming.noDataMicroBatches.enabled=false` before
    * `start()`, or the run never terminates; expiry is still applied on
    * read, so expired state reads as absent in the next data batch.
    */
  def milestones(purchases: Dataset[Purchase],
                 stepCents: Long = 10000L,
                 ttl: TTLConfig = TTLConfig.NONE): Dataset[Milestone] = {
    require(stepCents > 0, s"stepCents must be positive: $stepCents")
    implicit val outEnc = Encoders.product[Milestone]
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    purchases
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SpendProcessor(stepCents, ttl),
        timeMode, OutputMode.Append())
  }
}
