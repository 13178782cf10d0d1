package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded generator of the engine's ten base tables (the TPC-H-shaped
 * star schema plus `events`, `documents` and `embeddings`), with the
 * column names and types the `PipelineQueries.*Sources` builders and the
 * registry queries read. The same (seed, scale) always yields the same
 * bytes of data: every table draws from its own `SplittableRandom`
 * stream, so adding a column to one table does not shift another.
 *
 * `scale` follows the TPC-H convention (1.0 = 150k customers, 1.5M
 * orders, 6M line items); documents and embeddings keep the 500-row
 * floor of the small fixtures.
 */
object Gen {
  final case class Sizes(customers: Int, suppliers: Int, parts: Int,
                         orders: Int, lineitems: Int, events: Int,
                         documents: Int, embeddings: Int) {
    def describe: String =
      s"orders=$orders lineitem=$lineitems customer=$customers " +
        s"part=$parts supplier=$suppliers events=$events " +
        s"documents=$documents embeddings=$embeddings"
  }

  def sizes(scale: Double): Sizes = {
    def n(k: Double) = math.max(1, math.round(k * scale).toInt)
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000),
      n(1000000), math.max(500, n(50000)), math.max(500, n(20000)))
  }

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val Adjectives = Array("blue", "red", "hot", "cold", "small",
    "large", "old", "new")
  private val Nouns = Array("bolt", "gear", "anvil", "widget", "ring", "rod",
    "plate", "gizmo")
  private val PartTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL",
    "MEDIUM", "PROMO")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup",
    "error")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Words = ("a the key agg row scan slow fast table value part " +
    "hash merge batch spark line sort window order data column join small " +
    "big query customer stream filter group vector").split(' ')

  private val Day0 = java.time.LocalDate.of(1995, 1, 1)
  private def day(offset: Int): Timestamp =
    Timestamp.valueOf(Day0.plusDays(offset.toLong).atStartOfDay())
  private def cents(v: Double): Double = math.round(v * 100) / 100.0
  private def pick[A](r: SplittableRandom, xs: Array[A]): A =
    xs(r.nextInt(xs.length))

  private final case class Table(name: String, ddl: String, rows: () => Seq[Row])
  private def table(name: String, ddl: String, rows: => Seq[Row]) =
    Table(name, ddl, () => rows)

  /** Write the named tables (of the ten) under `dir`, one
    * `<name>.parquet` each. */
  def write(spark: SparkSession, dir: String, seed: Long, s: Sizes,
            only: Set[String]): Unit = {
    def rng(salt: Int) = new SplittableRandom(seed * 1000003L + salt)
    val tables = Seq(
      table("region", "r_regionkey INT, r_name STRING",
        Regions.indices.map(i => Row(i, Regions(i)))),
      table("nation", "n_nationkey INT, n_name STRING, n_regionkey INT",
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      table("customer", "c_custkey BIGINT, c_name STRING, " +
        "c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING", {
        val r = rng(1)
        (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
          r.nextInt(25), cents(r.nextDouble(-999.99, 9999.99)),
          pick(r, Segments)))
      }),
      table("supplier", "s_suppkey BIGINT, s_name STRING, " +
        "s_nationkey INT, s_acctbal DOUBLE", {
        val r = rng(2)
        (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
          r.nextInt(25), cents(r.nextDouble(-999.99, 9999.99))))
      }),
      table("part", "p_partkey BIGINT, p_name STRING, p_brand STRING, " +
        "p_type STRING, p_size INT, p_retailprice DOUBLE", {
        val r = rng(3)
        (0 until s.parts).map(i => Row(i.toLong,
          s"${pick(r, Adjectives)} ${pick(r, Nouns)}",
          s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes),
          1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
      }),
      table("orders", "o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, " +
        "o_orderpriority STRING", {
        val r = rng(4)
        (0 until s.orders).map(i => Row(i.toLong,
          r.nextInt(s.customers).toLong, pick(r, Array("F", "O", "P")),
          cents(r.nextDouble(1000.0, 500000.0)), day(r.nextInt(2404)),
          pick(r, Priorities)))
      }),
      table("lineitem", "l_orderkey BIGINT, l_partkey BIGINT, " +
        "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP", {
        val r = rng(5)
        (0 until s.lineitems).map { _ =>
          val qty = 1 + r.nextInt(50)
          Row(r.nextInt(s.orders).toLong, r.nextInt(s.parts).toLong,
            r.nextInt(s.suppliers).toLong, 1 + r.nextInt(7), qty.toDouble,
            cents(qty * r.nextDouble(900.0, 2000.0)), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, pick(r, Array("A", "N", "R")),
            pick(r, Array("F", "O")), day(1 + r.nextInt(2498)))
        }
      }),
      table("events", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING", {
        val r = rng(6)
        val users = math.max(10, s.events / 66)
        val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
        val stepMicros = 30L * 86400L * 1000000L / s.events
        (0 until s.events).map { i =>
          val micros = t0 + i * stepMicros + r.nextLong(stepMicros)
          val ts = new Timestamp(micros / 1000)
          ts.setNanos((micros % 1000000L).toInt * 1000)
          Row(i.toLong, ts, r.nextInt(users).toLong, pick(r, EventTypes),
            cents(0.01 + r.nextDouble() * r.nextDouble() * 490.0),
            s"""{"k": ${r.nextInt(100)}}""")
        }
      }),
      // ~5% of documents are near-duplicates of an earlier one (one word
      // appended), so the dedup operators see real clusters
      table("documents", "doc_id BIGINT, text STRING, lang STRING, " +
        "source STRING, n_chars BIGINT", {
        val r = rng(7)
        val texts = new Array[String](s.documents)
        for (i <- 0 until s.documents) texts(i) =
          if (i > 10 && r.nextInt(20) == 0)
            texts(r.nextInt(i)) + " " + pick(r, Words)
          else Seq.fill(8 + r.nextInt(83))(pick(r, Words)).mkString(" ")
        (0 until s.documents).map(i => Row(i.toLong, texts(i),
          pick(r, Langs), s"src${i % 20}", texts(i).length.toLong))
      }),
      table("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT", {
        val r = rng(8)
        (0 until s.embeddings).map { i =>
          val v = Array.fill(64)(gaussian(r))
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        }
      }))
    Par.par(tables.filter(t => only(t.name))) { t =>
      spark.createDataFrame(spark.sparkContext.parallelize(t.rows(), 1),
          StructType.fromDDL(t.ddl))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/${t.name}.parquet")
    }: Unit
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller on the seeded stream (java.util.Random's own
    // nextGaussian is not available on SplittableRandom)
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
