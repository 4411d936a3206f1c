package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingTransitions.Ev

/** The benchmark's own tests: generators are deterministic per seed and
  * differ across seeds, and the models agree with the operators they
  * check on tiny feeds. Prints one `ok`/`FAIL` line per test; exits 1 on
  * any failure. Usage: `SelfTest <scratch dir>`. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Exception => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  def main(argv: Array[String]): Unit = {
    val dir = new File(argv.headOption.getOrElse(".perfbench/selftest"))
    test("user feed: one seed, one digest") {
      Feeds.users(7, 2, 5, 30).digest == Feeds.users(7, 2, 5, 30).digest
    }
    test("user feed: two seeds, two digests") {
      Feeds.users(7, 2, 5, 30).digest != Feeds.users(8, 2, 5, 30).digest
    }
    test("resident feed: one seed, one digest; two seeds, two digests") {
      val a = Feeds.resident(7, 1000, 2, 1, 5, 20).digest
      a == Feeds.resident(7, 1000, 2, 1, 5, 20).digest && a != Feeds.resident(8, 1000, 2, 1, 5, 20).digest
    }
    test("corpus: one seed, one digest; two seeds, two digests") {
      def d(seed: Long) = Corpus.generate(seed).map(_._3.map(_.mkString("|")).mkString("\n")).hashCode
      d(7) == d(7) && d(7) != d(8)
    }
    test("resident feed never regenerates a key in the eviction race window") {
      val f = Feeds.resident(3, 2000, 1, 2, 50, 40)
      val last = mutable.LongMap.empty[Long]
      f.all.forall(_.forall { e =>
        val us = Feeds.micros(e.ts)
        val ok = last.get(e.key).forall(p => us - p <= f.ttlUs || us - p > f.ttlUs + 3 * f.spanUs)
        last(e.key) = math.max(last.getOrElse(e.key, Long.MinValue), us)
        ok
      })
    }
    test("digest changes when one emitted row changes") {
      val feed = Feeds.users(5, 1, 3, 20)
      val a = Models.entity(feed.all)
      val e = feed.batches(1)(0)
      val mutated = feed.all.updated(2, feed.batches(1).updated(0, e.copy(event_type = if (e.event_type == "view") "click" else "view")))
      val b = Models.entity(mutated)
      a("transitions")(2) != b("transitions")(2)
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(dir, "tmp").getAbsolutePath).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    try {
      val r = new Run(spark, Main.Args("entity_ops", 1L, 1.0, trace = false, dir))
      test("entity operators agree with their models on a tiny seed") {
        val feed = Feeds.users(11, 0, 8, 15)
        val model = Models.entity(feed.all)
        val stream = MemoryStream[Ev]
        val q = r.startEntity(stream)
        try feed.all.indices.forall { i =>
          stream.addData(feed.all(i).toSeq)
          q.query.processAllAvailable()
          val got = q.sink.take()
          val bad = Models.EntityOps.filter(op => got(op) != model(op)(i))
          if (bad.nonEmpty) println(s"  batch $i: ${bad.mkString(", ")}")
          bad.isEmpty
        } finally q.query.stop()
      }
      test("TTL kernel agrees with its model and removes every expired key") {
        val feed = Feeds.resident(11, 300, 2, 0, 12, 20, spanUs = 1000000L, ttlUs = 10L * 1000000L)
        val model = Models.ttl(feed.all, feed.ttlUs)
        val q = r.startTtl(feed.ttlUs, "ttl_selftest")
        try {
          val outputs = feed.all.indices.forall { i =>
            q.stream.addData(feed.all(i).toSeq)
            q.query.processAllAvailable()
            q.sink.take()("ttl_selftest") == model.perBatch(i)
          }
          val lastUs = feed.all.flatMap(_.map(e => Feeds.micros(e.ts))).max
          Seq(1, 2).foreach { k =>
            q.stream.addData(TEv(Long.MaxValue - k, -1L, Feeds.ts(lastUs + 2 * feed.ttlUs + k * feed.spanUs), 1L))
            q.query.processAllAvailable()
          }
          val progress = r.log.await(q.query).map(BatchInfo.of("ttl", _))
          val removed = progress.map(_.rowsRemoved).sum
          if (removed != model.lives.last) println(s"  removed $removed, model ${model.lives.last}")
          outputs && removed == model.lives.last && progress.last.rowsTotal == 1L
        } finally q.query.stop()
      }
      test("TTL kernel resets a key that returns past the TTL before its eviction") {
        // the watermark trails the newest event, so neither return below
        // can have been evicted yet: only the data-path gap rule resets them
        val ttlUs = 10L * 1000000L
        val t0 = Feeds.T0Us
        val batches = Vector(
          Array(TEv(1, 1, Feeds.ts(t0), 5)),
          Array(TEv(2, 1, Feeds.ts(t0 + ttlUs + 1), 7), TEv(3, 2, Feeds.ts(t0 + ttlUs + 2), 1),
            TEv(4, 2, Feeds.ts(t0 + 2 * ttlUs + 3), 1)))
        val model = Models.ttl(batches, ttlUs)
        val q = r.startTtl(ttlUs, "ttl_reset_selftest")
        try batches.indices.forall { i =>
          q.stream.addData(batches(i).toSeq)
          q.query.processAllAvailable()
          q.sink.take()("ttl_reset_selftest") == model.perBatch(i)
        } && model.perBatch(1) == Seq(TOut(2, 1, 7), TOut(3, 2, 1), TOut(4, 2, 1))
          .foldLeft(Checksum.Empty)((c, o) => c.add(Models.hashTOut(o)))
        finally q.query.stop()
      }
    } finally spark.stop()
    println(if (failures.isEmpty) "selftest: all passed" else s"selftest: ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
