package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.streaming.QualityStream

/** Deterministic synthetic source tables, in the layout and column
  * types the program's loaders read (`graft.sources.Tables`): the
  * TPC-H-shaped retail tables (customer, part, orders, lineitem), a
  * document corpus with planted near-duplicates, and an embedding table.
  *
  * Sizes and value distributions follow the sf0.001 test fixture that
  * TESTDATA.md describes, measured column by column with `shape.py`
  * (README.md lists the figures side by side). Each draw below names the fixture's shape
  * it reproduces.
  *
  * The corpus is a pure function of [[BaseSeed]], so the expected
  * outputs stored in `expected.tsv` hold for every run; the run seed
  * only decides how a workload orders and chops this corpus.
  */
object Inputs {

  val BaseSeed = 42L

  // the row counts of the sf0.001 fixture
  private val nCustomers = 150
  private val nSuppliers = 10
  private val nParts = 200
  private val nOrders = 1500
  private val nLineitems = 6000
  private val nDocuments = 500
  private val nVectors = 500

  // the fixture's 30 words; near-duplicates add a 31st, "dup"
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val partAdj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val partNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val otherLangs = Seq("de", "es", "fr", "zh")
  private val firstDay = LocalDate.of(1995, 1, 1)
  private val orderDays = 2405 // 1995-01-01 .. 2001-08-01, both included
  private val vecDim = 64
  private val vecLabels = 10

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: java.util.Random): LocalDate = firstDay.plusDays(r.nextInt(orderDays).toLong)

  private def field(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Every table as (name, schema, rows), generated in a fixed order
    * from one random stream.
    */
  def tables: Seq[(String, StructType, Seq[Row])] = {
    val r = new java.util.Random(BaseSeed)
    val customer = (0 until nCustomers).map(i => Row(i.toLong,
      f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
      segments(r.nextInt(segments.size))))
    val part = (0 until nParts).map(i => Row(i.toLong,
      s"${partAdj(r.nextInt(partAdj.size))} ${partNoun(r.nextInt(partNoun.size))}",
      s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.size)),
      1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val orders = (0 until nOrders).map(i => Row(i.toLong,
      r.nextInt(nCustomers).toLong, Seq("F", "O", "P")(r.nextInt(3)),
      money(r, 1000, 500000), day(r).atStartOfDay(),
      priorities(r.nextInt(priorities.size))))
    // As in the fixture, every column of a line is drawn on its own: the
    // order uniformly (4.07 lines an order, 1.8% of orders without a
    // line), l_linenumber uniformly in 1..7 whatever the order holds (so
    // (l_orderkey, l_linenumber) repeats, 1,401 times in the fixture),
    // l_extendedprice regardless of quantity and part price, and
    // l_shipdate as 1..95 days after a day of the order range, not after
    // the line's own order date.
    val lineitem = (0 until nLineitems).map { _ =>
      Row(r.nextInt(nOrders).toLong, r.nextInt(nParts).toLong,
        r.nextInt(nSuppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
        Seq("F", "O")(r.nextInt(2)),
        day(r).plusDays(1L + r.nextInt(95)).atStartOfDay(): LocalDateTime)
    }
    // 10..100 words each; then one doc in twenty, at random places,
    // becomes a copy of another doc (as that doc reads at that point,
    // so a copy of a copy) followed by " dup"
    val texts = Array.fill(nDocuments)(
      Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size))).mkString(" "))
    new scala.util.Random(r).shuffle((0 until nDocuments).toList).take(nDocuments / 20).foreach { i =>
      val from = (i + 1 + r.nextInt(nDocuments - 1)) % nDocuments
      texts(i) = texts(from) + " dup"
    }
    val documents = texts.toSeq.zipWithIndex.map { case (t, i) =>
      val lang = if (r.nextInt(20) < 8) "en" else otherLangs(r.nextInt(otherLangs.size))
      Row(i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }
    // isotropic unit vectors with labels drawn apart from them: the
    // fixture's per-dimension spread is 0.125 = 1/sqrt(64) and vectors
    // of one label are no closer than any two (mean cosine 0.00)
    val embeddings = (0 until nVectors).map { i =>
      val v = unit(Array.fill(vecDim)(r.nextGaussian()))
      Row(i.toLong, v.map(_.toFloat).toSeq, r.nextInt(vecLabels))
    }
    Seq(
      ("customer", StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
        field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
        field("c_mktsegment", StringType))), customer),
      ("part", StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
        field("p_brand", StringType), field("p_type", StringType), field("p_size", IntegerType),
        field("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
        field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
        field("o_orderdate", TimestampNTZType), field("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
        field("l_suppkey", LongType), field("l_linenumber", IntegerType),
        field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
        field("l_discount", DoubleType), field("l_tax", DoubleType),
        field("l_returnflag", StringType), field("l_linestatus", StringType),
        field("l_shipdate", TimestampNTZType))), lineitem),
      ("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
        field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
        documents),
      ("embeddings", StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType)), field("label", IntegerType))), embeddings))
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Write the named tables as `<dir>/<name>.parquet`; returns the
    * row count of each.
    */
  def write(spark: SparkSession, dir: String, names: Seq[String]): Map[String, Long] =
    tables.filter(t => names.contains(t._1)).map { case (name, schema, rows) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(s"$dir/$name.parquet")
      name -> rows.size.toLong
    }.toMap

  private val RowsFile = "rows.tsv"
  private val ModelFile = "quality_model.txt"

  /** The row counts [[main]] stored next to the tables. */
  def rowCounts(dir: String): Map[String, Long] =
    Files.readAllLines(Paths.get(dir, RowsFile)).asScala.toSeq
      .map(_.split('\t')).collect { case Array(name, n) => name -> n.toLong }.toMap

  /** The quality model [[main]] trained on the stored corpus. */
  def qualityModel(dir: String): Array[Double] =
    Files.readAllLines(Paths.get(dir, ModelFile)).asScala.map(_.toDouble).toArray

  /** Write every table and their row counts into `--dir`, with the
    * frozen quality model the document stream scores with
    * (`QualityStream.trainModel` on the stored corpus): the read-only
    * fixture every run of a build reads. `run.py` calls it once per build.
    */
  def main(argv: Array[String]): Unit = {
    val kv = Main.options(argv)
    val dir = kv("dir")
    val spark = Main.session(kv("cores").toInt, kv("run-dir"))
    try {
      val rows = write(spark, dir, tables.map(_._1))
      Files.write(Paths.get(dir, RowsFile),
        rows.toSeq.sorted.map { case (n, c) => s"$n\t$c" }.asJava)
      Files.write(Paths.get(dir, ModelFile),
        QualityStream.trainModel(spark, dir).map(_.toString).toSeq.asJava)
    } finally spark.stop()
  }
}
