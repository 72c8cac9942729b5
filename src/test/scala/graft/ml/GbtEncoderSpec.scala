package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Relational

/** The one-pass label encoders (O13): every string column's vocabulary
  * from one distinct job over a stacked (column, value) frame. Pinned
  * code for code against `Relational.labelEncode`, the per-column
  * operator, and round-tripped through the single encoders parquet. */
class GbtEncoderSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("mixed", "one", "none")

  /** `mixed` has nulls, non-ASCII, mixed case and the empty string —
    * including U+FF21 vs U+1F600, which UTF-16 (Java String) order and
    * UTF-8 byte (Spark) order sort differently; `one` holds a single
    * value; `none` is all null. */
  private lazy val frame = Seq[(String, String, String)](
    ("b", "x", null), ("B", "x", null), ("a", "x", null), ("A", "x", null),
    ("", "x", null), (null, "x", null), ("é", "x", null), ("e", "x", null),
    ("Ａ", "x", null), ("😀", "x", null), ("日本", "x", null),
    ("b", "x", null), (null, "x", null), ("Zz", "x", null)
  ).toDF("mixed", "one", "none")

  private def opCodes(c: String): Seq[(String, Long)] =
    Relational.labelEncode(frame, c).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._2).toSeq

  private def fitCodes(enc: Gbt.Encoders, c: String): Seq[(String, Long)] =
    enc.vocabs.toMap.apply(c).zipWithIndex.map { case (v, k) => v -> k.toLong }

  test("one-pass encoders match Relational.labelEncode code for code") {
    val enc = Gbt.fitEncoders(frame, cols)
    assert(enc.vocabs.map(_._1) == cols, "vocabularies keep the column order")
    cols.foreach { c =>
      assert(fitCodes(enc, c) == opCodes(c), s"codes differ on $c")
    }
    // the Spark-order pin itself: U+FF21 sorts BEFORE the emoji in
    // UTF-8 bytes, after it in UTF-16 code units
    val mixed = enc.vocabs.toMap.apply("mixed")
    assert(mixed.indexOf("Ａ") < mixed.indexOf("😀"))
    assert(mixed.head == "" && !mixed.contains(null))
    assert(enc.arity == Map("mixed" -> 12, "one" -> 2, "none" -> 1),
      s"arity = vocabulary + the unseen slot: ${enc.arity}")
  }

  test("applied codes equal the operator's join; unseen and null map to -1") {
    val enc = Gbt.fitEncoders(frame, cols)
    val probe = Seq[(String, String, String)](
      ("日本", "x", null), ("", "y", null), (null, "x", "q"), ("zzz", "x", null)
    ).toDF("mixed", "one", "none")
    val got = Gbt.applyEncoders(probe, enc)
      .select("mixed", "one", "none").as[(Long, Long, Long)].collect().toSeq
    val code = opCodes("mixed").toMap
    assert(got == Seq(
      (code("日本"), 0L, -1L), (code(""), -1L, -1L),
      (-1L, 0L, -1L), (-1L, 0L, -1L)), got.toString)
  }

  test("the single encoders parquet round-trips vocabularies and arities") {
    val enc = Gbt.fitEncoders(frame, cols)
    val path = java.nio.file.Files.createTempDirectory("graft-enc")
      .resolve("encoders.parquet").toString
    enc.save(spark, path)
    val loaded = Gbt.Encoders.load(spark, path)
    assert(loaded.vocabs.toMap == enc.vocabs.toMap)
    assert(loaded.arity == enc.arity, "an all-null column must keep arity 1")
    assert(spark.read.parquet(path).columns.toSeq == Seq("column", "value", "code"))
  }

  test("fitting encoders leaves nothing persisted") {
    frame.count()
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cached
    Gbt.fitEncoders(frame.withColumn("extra", upper(col("mixed"))),
      cols :+ "extra")
    assert((cached -- before).isEmpty, "fitEncoders must not cache")
  }
}
