package perfbench

import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic copies of the board tables the iterative queries read
  * (`part`, `lineitem`, `embeddings`), with the schemas and value
  * domains of the reference tables (FIXTURES.md §1): money and rates
  * carry two decimals, dates are day-aligned `TIMESTAMP_NTZ`, and each
  * table is one parquet file with one row group, so scans start
  * under-split as on the reference data.
  */
object TableGen {

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100).toDouble / 100

  /** Writes the tables under `dir/<name>.parquet`, lineitem with about
    * `lines` rows. Deterministic in `seed`; the writes are Spark jobs in
    * the caller's session. */
  def write(spark: SparkSession, dir: String, lines: Int, seed: Long): Unit = {
    val r = new Random(seed)
    val nOrders = lines / 4
    val nPart = lines / 30
    val nSupp = 100
    val nVecs = lines / 120

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    def f(n: String, t: DataType) = StructField(n, t)

    val adjectives = Seq("small", "red", "blue", "green", "large", "shiny")
    val nouns = Seq("ring", "widget", "bolt", "gear", "valve", "panel")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(r.nextInt(adjectives.size))} ${nouns(r.nextInt(nouns.size))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.size)), 1 + r.nextInt(50),
        math.round((900 + (i % 1000) * 0.1) * 100).toDouble / 100)))

    // 1-7 lines per order, shipped 1-90 days after an order date in
    // 1995-01-01 .. 2001-08-01
    val orderStart = LocalDate.of(1995, 1, 1)
    val rows = (0 until nOrders).flatMap { o =>
      val ordered = orderStart.plusDays(r.nextInt(2404).toLong)
      (1 to 1 + r.nextInt(7)).map { ln =>
        Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln,
          (1 + r.nextInt(50)).toDouble, money(r, 900, 100000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          ordered.plusDays((1 + r.nextInt(90)).toLong).atStartOfDay())
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), rows)

    // 64-d vectors clustered around one centroid per label
    val centroids = Array.fill(10, 64)(r.nextGaussian() * 0.1)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => (c + r.nextGaussian() * 0.08).toFloat).toSeq
        Row(i.toLong, v, label)
      })
  }
}
