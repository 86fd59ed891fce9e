package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** Deterministic generator of the benchmark's input tables.
  *
  * Produces the ten tables graft's entries read (`Tables.names`), one
  * single-file parquet each, with the schema and value domains of the
  * TPC-H-like star schema plus the `events`, `documents` and
  * `embeddings` tables:
  *  - timestamps are written as TIMESTAMP_NTZ (parquet
  *    `isAdjustedToUTC=false`), the physical form `Tables.normalizeTs`
  *    expects;
  *  - 5 % of documents are planted near-duplicates: an earlier document's
  *    text with at most one token replaced and " dup" appended, in the
  *    earlier document's language, so the dedup family finds pairs;
  *  - embeddings are unit-norm 64-d float vectors.
  *
  * The relational tables scale with `sf` (lineitem = 6 M x sf rows); the
  * curation corpus is sized separately (`docs`, `vecs`) because the
  * dedup family's cost grows super-linearly with it.
  */
object DataGen {

  final case class Sizes(sf: Double, docs: Int, vecs: Int) {
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
  }

  val Vocab: Array[String] = Array("row", "the", "query", "stream", "fast",
    "spark", "line", "small", "customer", "group", "value", "hash", "batch",
    "sort", "data", "big", "filter", "key", "agg", "scan", "slow", "table",
    "part", "a", "merge", "window", "order", "column", "join", "vector")

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "de", "es", "fr", "zh") // en twice: ~1/3 of docs

  private def rng(seed: Long, table: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ table.hashCode.toLong)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  private def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))

  private def day(from: LocalDate, span: Int, r: SplittableRandom): LocalDateTime =
    from.plusDays(r.nextInt(span).toLong).atStartOfDay()

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Every table as (name, schema, rows). */
  def tables(seed: Long, z: Sizes): Seq[(String, StructType, Seq[Row])] = {
    val nCust = z.n(150000); val nSupp = z.n(10000); val nPart = z.n(200000)
    val nOrd = z.n(1500000); val nLine = z.n(6000000); val nEv = z.n(1000000)
    val nUsers = math.max(1, nEv * 3 / 200)

    val region = Regions.indices.map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = { val r = rng(seed, "customer")
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), pick(r, Segments))) }
    val supplier = { val r = rng(seed, "supplier")
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))) }
    val part = { val r = rng(seed, "part")
      (0 until nPart).map(i => Row(i.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, Types), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)) }
    val orders = { val r = rng(seed, "orders")
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        pick(r, Array("F", "O", "P")), money(r, 1000.0, 500000.0),
        day(LocalDate.of(1995, 1, 1), 2404, r), pick(r, Priorities))) }
    val lineitem = { val r = rng(seed, "lineitem")
      (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
        r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(r, 900.0, 105000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, Array("A", "N", "R")), pick(r, Array("F", "O")),
        day(LocalDate.of(1995, 1, 2), 2498, r))) }
    val events = { val r = rng(seed, "events")
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val spanMicros = 30L * 86400L * 1000000L
      val ts = Array.fill(nEv)(r.nextLong(spanMicros)).sorted
      (0 until nEv).map(i => Row(i.toLong, t0.plusNanos(ts(i) * 1000L),
        r.nextInt(nUsers).toLong, pick(r, EventTypes), money(r, 0.01, 490.0),
        s"""{"k": ${r.nextInt(100)}}""")) }
    val documents = { val r = rng(seed, "documents")
      val texts = new Array[String](z.docs)
      val langs = new Array[String](z.docs)
      (0 until z.docs).map { i =>
        if (i >= 20 && r.nextInt(20) == 0) {
          val src = r.nextInt(i)
          val toks = texts(src).split(' ')
          if (r.nextInt(5) > 0) toks(r.nextInt(toks.length)) = pick(r, Vocab)
          texts(i) = toks.mkString(" ") + " dup"
          langs(i) = langs(src)
        } else {
          texts(i) = Array.fill(10 + r.nextInt(90))(pick(r, Vocab)).mkString(" ")
          langs(i) = pick(r, Langs)
        }
        Row(i.toLong, texts(i), langs(i), s"src${i % 20}", texts(i).length.toLong)
      } }
    val embeddings = { val r = rng(seed, "embeddings")
      (0 until z.vecs).map { i =>
        val g = Array.fill(64)(gaussian(r))
        val norm = math.sqrt(g.map(x => x * x).sum)
        Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      } }

    val ts = TimestampNTZType
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", ts), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", ts))), lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", ts),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)),
        f("label", IntegerType))), embeddings))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** Write every table as `<out>/<name>.parquet`, one file each. */
  def write(spark: SparkSession, out: Path, seed: Long, z: Sizes): Unit = {
    Files.createDirectories(out)
    tables(seed, z).foreach { case (name, schema, rows) =>
      val tmp = out.resolve(s".$name.tmp")
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(p => p.getFileName.toString.startsWith("part-")).get
      Files.move(part, out.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Util.deleteTree(tmp)
    }
  }

  /** Usage: perfbench.DataGen OUT_DIR SF DOCS VECS SEED */
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val z = Sizes(args(1).toDouble, args(2).toInt, args(3).toInt)
    val spark = Session.build()
    try write(spark, out, seed = args(4).toLong, z) finally spark.stop()
  }
}
