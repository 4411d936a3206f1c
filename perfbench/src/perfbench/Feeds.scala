package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.streaming.StreamingTransitions

/** One keyed event of the TTL kernel's input. */
final case class TEv(event_id: Long, key: Long, ts: Timestamp, v: Long)

/** What the TTL kernel emits per event: the key's running sum, reset to
  * zero whenever the key's event-time gap exceeds the TTL. */
final case class TOut(event_id: Long, key: Long, sum: Long)

/** A generated keyed feed: `load` batches are offered during set-up,
  * `batches` during the timed phase, in order. */
final case class TtlFeed(load: Vector[Array[TEv]], batches: Vector[Array[TEv]], ttlUs: Long, spanUs: Long, digest: String) {
  def all: Vector[Array[TEv]] = load ++ batches
  def events: Long = batches.map(_.length.toLong).sum
}

/** The user-churn feed of the per-entity workload. */
final case class UserFeed(load: Vector[Array[StreamingTransitions.Ev]], batches: Vector[Array[StreamingTransitions.Ev]], digest: String) {
  def all: Vector[Array[StreamingTransitions.Ev]] = load ++ batches
  def events: Long = batches.map(_.length.toLong).sum
}

/** Seeded generators. Every feed is a pure function of its arguments, and
  * every batch's event times lie in their own window `[b·span, (b+1)·span)`,
  * so with a zero-delay watermark no event is ever late.
  *
  * Eviction must not depend on how the engine interleaves no-data batches
  * with the next offer, so a key that falls silent comes back either within
  * the TTL (its state continues) or more than `ttl + 3·span` later (its
  * state is surely evicted by then and restarts). Gaps in between, where
  * eviction would race the key's return, are never generated. */
object Feeds {
  /** 2024-01-01T00:00:00Z in microseconds. */
  val T0Us: Long = 1704067200L * 1000000L

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Microseconds since the epoch, floor-divided so that times before 1970
    * convert the same way Spark's `unix_micros` does. */
  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def digestOf(batches: Vector[Array[TEv]]): String = {
    val d = new FeedDigest
    batches.foreach(_.foreach(e => d.add(e.event_id, e.key, micros(e.ts), e.v)))
    d.hex
  }

  /** The TTL kernel's feed in `--selftest`: `residentKeys` keys loaded
    * first, with event times spread evenly over one TTL, so that as the
    * later batches advance the watermark by one span each, a seeded
    * trickle of `residentKeys · span / ttl` keys expires per batch while
    * live state stays near `residentKeys`. Each later batch touches
    * `touches` keys: resident keys far from expiry (continue),
    * long-expired keys (restart) or new keys. The first `warmBatches` of
    * those join `load`. */
  def resident(seed: Long, residentKeys: Int, loadChunks: Int, warmBatches: Int, timedBatches: Int, touches: Int,
               spanUs: Long = 500000L, ttlUs: Long = 1000L * 1000000L): TtlFeed = {
    val r = new SplittableRandom(seed)
    val last = new Array[Long](residentKeys)
    val keys = new Array[Long](residentKeys)
    val step = ttlUs / residentKeys
    val load = Array.tabulate(residentKeys) { i =>
      val us = T0Us + i * step + r.nextLong(step)
      last(i) = us
      keys(i) = Checksum.mix(i.toLong ^ seed) & Long.MaxValue
      TEv(i.toLong, keys(i), ts(us), 1L + r.nextInt(100))
    }
    val chunk = (residentKeys + loadChunks - 1) / loadChunks
    val loadBatches = load.grouped(chunk).map(shuffled(_, r)).toVector
    var nextId = residentKeys.toLong
    var nextKey = -2L
    val startUs = T0Us + ttlUs + spanUs
    val batches = (0 until warmBatches + timedBatches).map { b =>
      val lo = startUs + b * spanUs
      Array.fill(touches) {
        val us = lo + r.nextLong(spanUs)
        val i = r.nextInt(residentKeys)
        val safe = last(i) + ttlUs > lo + 3 * spanUs || last(i) + ttlUs + 3 * spanUs < lo
        val key = if (safe && r.nextInt(10) != 0) { last(i) = math.max(last(i), us); keys(i) } else { nextKey -= 1; nextKey }
        val e = TEv(nextId, key, ts(us), 1L + r.nextInt(100))
        nextId += 1
        e
      }
    }.toVector
    TtlFeed(loadBatches ++ batches.take(warmBatches), batches.drop(warmBatches), ttlUs, spanUs,
      digestOf(loadBatches ++ batches))
  }

  val EventTypes: Array[String] = Array("view", "click", "purchase", "signup", "error")
  private val TypeWeights = Array(40, 30, 15, 10, 5)

  private def eventType(r: SplittableRandom): String = {
    var x = r.nextInt(100)
    var i = 0
    while (x >= TypeWeights(i)) { x -= TypeWeights(i); i += 1 }
    EventTypes(i)
  }

  /** `entity_ops`: each batch covers one day of event time and brings
    * `usersPerBatch` new users. A user emits one to ten events, strictly
    * increasing in time and at most two days apart, then goes idle for
    * good; a TTL of three days therefore evicts users a few batches after
    * their last event and changes no output row. */
  def users(seed: Long, warmBatches: Int, timedBatches: Int, usersPerBatch: Int,
            spanUs: Long = 86400L * 1000000L): UserFeed = {
    val r = new SplittableRandom(seed)
    val n = warmBatches + timedBatches
    val buckets = Array.fill(n)(mutable.ArrayBuffer.empty[StreamingTransitions.Ev])
    var nextUser = 0L
    var nextId = 0L
    val day = 86400L * 1000000L
    for (b <- 0 until n; _ <- 0 until usersPerBatch) {
      nextUser += 1
      var us = T0Us + b * spanUs + r.nextLong(spanUs)
      val len = 1 + r.nextInt(10)
      for (i <- 0 until len) {
        if (i > 0) us += 1L + r.nextLong(2 * day)
        val bi = ((us - T0Us) / spanUs).toInt
        if (bi < n) { buckets(bi) += StreamingTransitions.Ev(nextUser, ts(us), nextId, eventType(r)); nextId += 1 }
      }
    }
    val all = buckets.map(b => shuffled(b.toArray, r)).toVector
    val d = new FeedDigest
    all.foreach(_.foreach(e => d.add(e.event_id, e.user_id, micros(e.ts), Checksum.str(e.event_type))))
    UserFeed(all.take(warmBatches), all.drop(warmBatches), d.hex)
  }

  private def shuffled[T](a: Array[T], r: SplittableRandom): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
