package perfbench

import scala.util.Random

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same rows:
  * Spark-side generators use `rand(seed)` over a fixed 4-slice range, and
  * driver-side generators use `scala.util.Random(seed)`. Tables are
  * written as one parquet file each, with the column layout the library's
  * queries read. */
object Data {

  /** http-shaped training set: `rows` x 3 continuous features and a
    * labelled tail of ~0.4%. Half of the tail sits far out (easy), half
    * overlaps the bulk's shoulder (hard), so AUC lands clearly below 1.0
    * and a quality loss cannot hide behind a saturated metric. */
  def httpSet(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    val base = spark.range(0, rows, 1, 4)
      .withColumn("u", rand(seed))
      .withColumn("label", when(col("u") < 0.004, 1.0).otherwise(0.0))
      .withColumn("far", (col("u") < 0.002).cast("double"))
      .withColumn("shift", col("label") * (lit(1.6) + col("far") * lit(2.4)))
      .withColumn("f0", randn(seed + 1) + col("shift"))
      .withColumn("f1", randn(seed + 2) * (lit(1.0) + col("shift") * lit(0.3)))
      .withColumn("f2", randn(seed + 3) - col("shift"))
    new VectorAssembler().setInputCols(Array("f0", "f1", "f2")).setOutputCol("features")
      .transform(base).select("id", "features", "label")
  }

  /** lineitem with the star schema's columns and value ranges, written
    * as ONE file with ONE row group (the shape the library's scan
    * respread is built for). */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, path: String): Unit = {
    spark.range(0, rows, 1, 4)
      .select(
        (col("id") / 4 + 1).cast("long").as("l_orderkey"),
        (floor(rand(seed) * 20000) + 1).cast("long").as("l_partkey"),
        (floor(rand(seed + 1) * 1000) + 1).cast("long").as("l_suppkey"),
        (col("id") % 7 + 1).cast("int").as("l_linenumber"),
        (floor(rand(seed + 2) * 50) + 1).as("l_quantity"),
        (floor(rand(seed + 3) * 190000) / 100 + 900).as("price"),
        (floor(rand(seed + 4) * 11) / 100).as("l_discount"),
        (floor(rand(seed + 5) * 9) / 100).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (floor(rand(seed + 6) * 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (floor(rand(seed + 7) * 2) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(883612800L) + floor(rand(seed + 8) * 2500) * 86400)
          .as("l_shipdate"))
      .withColumn("l_extendedprice", round(col("l_quantity") * col("price") / 50 * 55, 2))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .coalesce(1)
      .write.option("parquet.block.size", (512L << 20).toString).parquet(path)
  }

  private val words = Array("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "merge", "batch", "the", "line", "sort", "window",
    "spark", "order", "data", "column", "join", "small", "customer", "query", "big",
    "stream", "group", "filter", "vector")
  private val langs = Array("en", "en", "en", "en", "en", "de", "de", "es", "es", "fr", "zh")

  /** documents(doc_id, text, lang, source, n_chars): word-bag texts over a
    * 30-word vocabulary, 8 to 90 words long. */
  def documents(spark: SparkSession, seed: Long, n: Int, path: String): Unit = {
    val r = new Random(seed)
    val rows = (0 until n).map { i =>
      val text = Seq.fill(8 + r.nextInt(83))(words(r.nextInt(words.length))).mkString(" ")
      Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(path)
  }

  /** embeddings(vec_id, embedding array<float>, label): unit vectors
    * around 10 seeded cluster centres. */
  def embeddings(spark: SparkSession, seed: Long, n: Int, dim: Int, path: String): Unit = {
    val r = new Random(seed)
    val centres = Array.fill(10, dim)(r.nextGaussian() * 0.12)
    val rows = (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centres(label)(d) + r.nextGaussian() * 0.09)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(path)
  }
}
