package perfbench

import scala.collection.mutable

import graft.streaming.StreamingTransitions.Ev

/** Plain-Scala models of what each operator must emit, written from the
  * operators' documented contracts, not from their code paths. Each model
  * folds the feed one offered batch at a time, so it yields the expected
  * output digest of every batch. */
object Models {
  def hashTOut(o: TOut): Long = Checksum.of(o.event_id, o.key, o.sum)

  /** Expected digests of the TTL running sum: per key, events in
    * (event time, event_id) order; the sum restarts from zero at a key's
    * first event and whenever the gap to its previous event exceeds the
    * TTL. `lives(b)` counts the state lifetimes begun in batches `0..b`:
    * once everything has been flushed out of state, the kernel must have
    * removed exactly that many rows. */
  final case class Ttl(perBatch: Vector[Checksum], lives: Vector[Long])

  def ttl(batches: Seq[Array[TEv]], ttlUs: Long): Ttl = {
    val sum = mutable.LongMap.empty[Long]
    val last = mutable.LongMap.empty[Long]
    var lives = 0L
    val out = Vector.newBuilder[Checksum]
    val livesB = Vector.newBuilder[Long]
    batches.foreach { batch =>
      var c = Checksum.Empty
      batch.sortBy(e => (e.key, Feeds.micros(e.ts), e.event_id)).foreach { e =>
        val us = Feeds.micros(e.ts)
        val s0 = last.get(e.key) match {
          case Some(prev) if us - prev <= ttlUs => sum(e.key)
          case _ => lives += 1; 0L
        }
        sum(e.key) = s0 + e.v
        last(e.key) = us
        c = c.add(hashTOut(TOut(e.event_id, e.key, s0 + e.v)))
      }
      out += c
      livesB += lives
    }
    Ttl(out.result(), livesB.result())
  }

  /** The per-entity operators, each called with its default arguments,
    * and the TTL kernel over the same feed. */
  val EntityOps: Seq[String] = Seq("running_reduce", "count_windows", "funnel", "retention", "transitions", "dedup", "ttl_kernel")
  val KernelTtlUs: Long = 3L * 86400L * 1000000L

  val CountWindowSize = 3
  val DedupTtlUs: Long = 3L * 86400L * 1000000L
  def increment(e: Ev): Long = e.event_id % 7 + 1

  private def week(us: Long): Long = Math.floorDiv(Math.floorDiv(us, 86400L * 1000000L), 7L)

  /** Expected per-batch digests of every per-entity operator, keyed by the
    * names in [[EntityOps]]. Users never return once idle, so the dedup
    * key's state is only ever evicted after its last event. */
  def entity(batches: Seq[Array[Ev]]): Map[String, Vector[Checksum]] = {
    val acc = mutable.LongMap.empty[Long]
    val buf = mutable.LongMap.empty[Vector[Ev]]
    val funnel = mutable.LongMap.empty[(Long, Long, Long)]
    val ret = mutable.LongMap.empty[(Long, Long)]
    val prev = mutable.LongMap.empty[String]
    val seen = mutable.LongMap.empty[Long]
    val out = EntityOps.map(_ -> Vector.newBuilder[Checksum]).toMap
    batches.foreach { batch =>
      val c = mutable.Map(EntityOps.map(_ -> Checksum.Empty): _*)
      def emit(op: String, h: Long): Unit = c(op) = c(op).add(h)
      batch.groupBy(_.user_id).foreach { case (u, evs) =>
        val sorted = evs.sortBy(e => (Feeds.micros(e.ts), e.event_id))
        // running sum of `increment`, one row per event
        sorted.foreach { e =>
          acc(u) = acc.getOrElse(u, 0L) + increment(e)
          emit("running_reduce", Checksum.of(u, acc(u)))
        }
        // tumbling count windows of CountWindowSize events
        var b = buf.getOrElse(u, Vector.empty) ++ sorted
        while (b.size >= CountWindowSize) {
          val w = b.take(CountWindowSize)
          emit("count_windows", Checksum.of(u, w.head.event_id, w.last.event_id, w.size.toLong))
          b = b.drop(CountWindowSize)
        }
        buf(u) = b
        // funnel: user, first view, first click after it, first purchase after that
        var (tv, tc, tp) = funnel.getOrElse(u, {
          emit("funnel", Checksum.of(u, Checksum.str("user"), Feeds.micros(sorted.head.ts)))
          (-1L, -1L, -1L)
        })
        sorted.foreach { e =>
          val us = Feeds.micros(e.ts)
          def stage(s: String): Unit = emit("funnel", Checksum.of(u, Checksum.str(s), us))
          e.event_type match {
            case "view" if tv < 0 => tv = us; stage("view")
            case "click" if tv >= 0 && us > tv && tc < 0 => tc = us; stage("click_after_view")
            case "purchase" if tc >= 0 && us > tc && tp < 0 => tp = us; stage("purchase_after_click")
            case _ =>
          }
        }
        funnel(u) = (tv, tc, tp)
        // retention: cohort week and each later week 0..3 counted once
        var (wk0, mask) = ret.getOrElse(u, (week(Feeds.micros(sorted.head.ts)), 0L))
        sorted.foreach { e =>
          val k = week(Feeds.micros(e.ts)) - wk0
          if (k >= 0 && k <= 3 && (mask & (1L << k)) == 0L) {
            mask |= 1L << k
            emit("retention", Checksum.of(u, wk0, k))
          }
        }
        ret(u) = (wk0, mask)
        // transitions between consecutive event types
        sorted.foreach { e =>
          emit("transitions", Checksum.of(u, Checksum.str(prev.getOrElse(u, "_start")), Checksum.str(e.event_type)))
          prev(u) = e.event_type
        }
        // dedup: the user's first event passes, later ones are suppressed
        if (!seen.contains(u)) emit("dedup", hashEv(sorted.head))
        seen(u) = Feeds.micros(sorted.last.ts)
      }
      EntityOps.foreach(op => if (op != "ttl_kernel") out(op) += c(op))
    }
    val kernel = ttl(batches.map(_.map(e => TEv(e.event_id, e.user_id, e.ts, increment(e)))), KernelTtlUs)
    out.map { case (k, v) => k -> v.result() } + ("ttl_kernel" -> kernel.perBatch)
  }

  def hashEv(e: Ev): Long = Checksum.of(e.event_id, e.user_id, Feeds.micros(e.ts), Checksum.str(e.event_type))
}
