package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Collects every progress event Spark posts. Spark builds these events
  * whether or not anyone listens, so this listener stays on in untraced
  * runs. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(id: UUID): Vector[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toVector.sortBy(_.batchId)

  /** Progress events are delivered asynchronously: wait until the last
    * batch the query has reported is here. */
  def await(q: StreamingQuery, timeoutMs: Long = 30000L): Vector[StreamingQueryProgress] = {
    val want = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = System.currentTimeMillis + timeoutMs
    while (!of(q.id).exists(_.batchId >= want) && System.currentTimeMillis < deadline) Thread.sleep(5)
    of(q.id)
  }
}

/** A foreachBatch sink over `(operator, row hash)` pairs that keeps only
  * one digest per operator, accumulated until the closed loop takes them
  * after each offer. */
final class DigestSink {
  private val acc = new AtomicReference(Map.empty[String, Checksum])

  val write: (Dataset[(String, Long)], Long) => Unit = { (ds, _) =>
    val parts = ds.mapPartitions { it =>
      val m = scala.collection.mutable.Map.empty[String, Checksum]
      it.foreach { case (op, h) => m(op) = m.getOrElse(op, Checksum.Empty).add(h) }
      m.iterator.map { case (op, c) => (op, c.n, c.sum, c.xor) }
    }(ds.sparkSession.implicits.newProductEncoder[(String, Long, Long, Long)]).collect()
    val got = parts.groupBy(_._1).map { case (op, cs) =>
      op -> cs.foldLeft(Checksum.Empty) { case (c, (_, n, s, x)) => c + Checksum(n, s, x) }
    }
    acc.accumulateAndGet(got, (a, b) => (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, Checksum.Empty) + b.getOrElse(k, Checksum.Empty))).toMap)
  }

  /** Digests since the last call; an operator that emitted nothing reads
    * as the empty digest. */
  def take(): Map[String, Checksum] = acc.getAndSet(Map.empty).withDefaultValue(Checksum.Empty)

  /** Starts `ds` into this sink; the query is named after its checkpoint
    * directory, which is unique within a run. */
  def start(ds: Dataset[(String, Long)], checkpoint: java.io.File): StreamingQuery =
    ds.writeStream.queryName(checkpoint.getName).outputMode("append")
      .option("checkpointLocation", checkpoint.getAbsolutePath)
      .foreachBatch(write).start()
}

/** One timed operation: an offered batch, or one run of query `label`. */
final case class Op(startMs: Double, endMs: Double, offerMs: Double, events: Int, ok: Boolean, traced: Boolean,
                    label: String = "") {
  def latencyMs: Double = endMs - startMs
}

/** Per-batch figures read from Spark's progress events, summed over the
  * state operators of one query; `opRows` and `opMem` keep them apart, in
  * the order the operators appear in the query's plan. */
final case class BatchInfo(query: String, batchId: Long, startMs: Double, inputRows: Long, durations: Map[String, Long],
                           rowsTotal: Long, rowsUpdated: Long, rowsRemoved: Long, memBytes: Long,
                           updateMs: Long, removalMs: Long, commitMs: Long,
                           watermarkLagMs: Option[Double], opRows: Vector[Long], opMem: Vector[Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def idle: Boolean = inputRows == 0
  def endMs: Double = startMs + triggerMs
}

object BatchInfo {
  def of(query: String, p: StreamingQueryProgress): BatchInfo = {
    val ops = p.stateOperators.toSeq
    def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f).sum
    val et = p.eventTime.asScala
    val lag = for (mx <- et.get("max"); wm <- et.get("watermark"))
      yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli).toDouble
    BatchInfo(query, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      sum(_.numRowsTotal), sum(_.numRowsUpdated), sum(_.numRowsRemoved), sum(_.memoryUsedBytes),
      sum(_.allUpdatesTimeMs), sum(_.allRemovalsTimeMs), sum(_.commitTimeMs), lag,
      ops.map(_.numRowsTotal).toVector, ops.map(_.memoryUsedBytes).toVector)
  }
}

/** Closed-loop client: offers one batch, waits until every query has
  * committed it, and only then offers the next. */
final class ClosedLoop(clock: Clock) {
  def offer(add: () => Unit, queries: Seq[StreamingQuery], events: Int, traced: Boolean)(check: => Boolean): Op = {
    val t0 = clock.nowMs
    add()
    val t1 = clock.nowMs
    val ok = try { queries.foreach(_.processAllAvailable()); true } catch { case _: Exception => false }
    val t2 = clock.nowMs
    Op(t0, t2, t1 - t0, events, ok && check, traced)
  }
}

/** Wall clock in fractional epoch milliseconds with nanosecond steps, so
  * client-side spans line up with Spark's epoch-millisecond timestamps. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
