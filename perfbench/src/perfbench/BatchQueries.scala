package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Seeded stand-in for the TPC-H-ish corpus the registered queries read:
  * the same ten tables, column names and parquet types, at about half the
  * size of sf0.01. Each table is one parquet file `<name>.parquet`, which
  * is the layout both `graft.Tables` and the DuckDB oracle compare expect. */
object Corpus {
  private val Words = ("key agg row scan slow fast table value part hash merge batch spark a the line sort " +
    "window order data column join small query customer filter group stream big").split(" ")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Segments = Array("BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def pick(r: SplittableRandom, xs: String*): String = xs(r.nextInt(xs.size))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def day(r: SplittableRandom, fromYear: Int, years: Int): LocalDateTime =
    LocalDateTime.of(fromYear, 1, 1, 0, 0).plusDays(r.nextInt(365 * years).toLong)

  /** Rows and schema of every table, generated from `seed`. */
  def generate(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(seed)
    def f(n: String, t: DataType) = StructField(n, t, nullable = true)
    val nCust = 750; val nSupp = 100; val nPart = 1000; val nOrders = 7500; val nUsers = 150
    val region = (0 until 5).map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until nCust).map(i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999, 9999), Segments(r.nextInt(5))))
    val supplier = (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999, 9999)))
    val part = (0 until nPart).map(i => Row(i.toLong, s"${Words(r.nextInt(Words.length))} ${Words(r.nextInt(Words.length))}",
      s"Brand#${1 + r.nextInt(25)}", pick(r, "ECONOMY", "STANDARD", "PROMO", "LARGE"),
      1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val orders = (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick(r, "F", "O", "P"),
      money(r, 1000, 500000), day(r, 1992, 7), Priorities(r.nextInt(5))))
    val lineitem = (0 until nOrders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, q, money(r, 900, 105000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, "A", "N", "R"), pick(r, "F", "O"),
          day(r, 1995, 7))
      }
    }
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = (0 until 5000).map(i => Row(i.toLong, t0.plusNanos((r.nextLong(30L * 86400L * 1000000L)) * 1000L),
      r.nextInt(nUsers).toLong, Feeds.EventTypes(r.nextInt(5)), money(r, 0, 20), s"""{"k": ${r.nextInt(100)}}"""))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until 500).map { i =>
      // one in ten documents is a near-copy of an earlier one
      val text =
        if (i > 10 && r.nextInt(10) == 0) {
          val base = texts(r.nextInt(texts.size)).split(" ")
          base.updated(r.nextInt(base.length), Words(r.nextInt(Words.length))).mkString(" ")
        } else Seq.fill(20 + r.nextInt(60))(Words(r.nextInt(Words.length))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", text.length.toLong)
    }
    val centers = Array.fill(3, 64)(r.nextDouble() * 0.4 - 0.2)
    val embeddings = (0 until 500).map { i =>
      val label = r.nextInt(3)
      Row(i.toLong, centers(label).map(c => (c + r.nextDouble() * 0.1 - 0.05).toFloat).toSeq, label)
    }
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))), events),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType, containsNull = true)),
        f("label", IntegerType))), embeddings))
  }

  /** Writes the corpus as `<dir>/<table>.parquet`; returns (digest, rows). */
  def write(spark: SparkSession, seed: Long, dir: File): (String, Long) = {
    val d = new FeedDigest
    var rows = 0L
    dir.mkdirs()
    generate(seed).foreach { case (name, schema, data) =>
      data.foreach(row => d.add(Checksum.str(row.mkString("\u0001"))))
      rows += data.size
      val tmp = new File(dir, s".$name")
      spark.createDataFrame(data.asJava, schema).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
    }
    (d.hex, rows)
  }
}

object BatchQueries {
  /** One to three registered queries per family, few enough that a cold
    * pass, a warm-up pass and two timed passes fit in one run. */
  val Names: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q14_mapwithstate_ttl", // relational
    "q73_bfs_reach", // graph
    "approx_count_min", // sketches
    "text_lm_bigram", // text
    "column_profile") // profiling
}

/** `batch_queries`: the registered queries on a seeded corpus, timed pass
  * after pass in an order the seed fixes, after one cold pass (the
  * set-up) whose outputs the DuckDB oracle compare checks and one warm
  * pass. */
final class BatchQueries(spark: SparkSession, a: Main.Args, r: Run) {
  private val corpus = new File(a.out, "corpus")

  def run(): String = {
    val order = {
      val rnd = new SplittableRandom(a.seed)
      val v = BatchQueries.Names.toArray
      for (i <- v.indices.reverse) { val j = rnd.nextInt(i + 1); val t = v(i); v(i) = v(j); v(j) = t }
      v.toSeq
    }
    // the corpus is the benchmark's own input: written once, before any timer
    val (digest, rows) = Corpus.write(spark, a.seed, corpus)
    r.facts += "feed_digest" -> Json.str(digest)
    r.facts += "corpus_rows" -> rows.toString
    r.facts += "query_order" -> order.map(Json.str).mkString("[", ", ", "]")

    // set-up: the cold first pass, where graft's plans, generated code and
    // the JIT are built; it also dumps every output for the oracle compare
    val dump = new File(a.out, "dump")
    r.timedSetup(order.foreach { q =>
      try SparkEntry.queries(q)(spark, corpus.getPath).coalesce(1).write.mode("overwrite").parquet(new File(dump, q).getPath)
      catch { case e: Exception => r.checks += s"$q failed in the cold pass: ${e.getMessage}" }
    })
    val oracle = order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.writeString(new File(dump, "oracle_sql.json").toPath,
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }))
    r.facts += "oracle_queries" -> oracle.size.toString

    // each op is one pass, each query forced with a no-op write
    def pass(traced: Boolean): Seq[Op] = order.map { q =>
      val t0 = r.clock.nowMs
      val ok = try { SparkEntry.queries(q)(spark, corpus.getPath).write.mode("overwrite").format("noop").save(); true }
      catch { case e: Exception => r.checks += s"$q failed: ${e.getMessage}"; false }
      Op(t0, r.clock.nowMs, 0.0, 1, ok, traced, q)
    }
    // one untimed pass: the first pass after the cold one still ran ~12 %
    // slower than the next, while the JIT finished compiling
    pass(traced = false)
    val runs = Vector.newBuilder[Op]
    val ops = r.segment(0, Int.MaxValue, a.seconds * 1000) { (_, traced) =>
      val p = pass(traced)
      runs ++= p
      Op(p.head.startMs, p.last.endMs, 0.0, p.size, p.forall(_.ok), traced, "pass")
    }
    r.facts += "timed_ops" -> ops.size.toString
    r.batchMetrics(ops, runs.result(), order)
    r.result(ops.size, ops.count(!_.ok))
  }
}
