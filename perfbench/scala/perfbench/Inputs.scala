package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every lineitem value is a hash of (row id, seed, column
  * salt), so one seed gives the same rows however Spark partitions the
  * range; documents come from one seeded generator on the driver. */
object Inputs {

  /** Columns whose drift is planted in a drifted version: a shift of the
    * numeric mean, a category absent from the reference, and extra nulls. */
  val ShiftedColumn = "l_extendedprice"
  val NewCategoryColumn = "l_returnflag"
  val NullColumn = "l_tax"
  val PlantedColumns: Seq[String] = Seq(ShiftedColumn, NewCategoryColumn, NullColumn)

  private val Prime = 2147483647L

  /** Uniform [0, 1) per row of a frame that has an `id` column. */
  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(Prime)).cast("double") / Prime.toDouble

  /** `rows` lineitem-shaped rows shipped within `days` days of `firstDay`
    * (days since 1970-01-01). Row ids start at `idBase`. Keeps `id`. */
  def lineitem(spark: SparkSession, rows: Long, seed: Long, firstDay: Int, days: Int,
      idBase: Long, partitions: Int): DataFrame =
    spark.range(idBase, idBase + rows, 1, partitions)
      .withColumn("l_quantity", floor(u(seed, 3) * 50).cast("double") + 1.0)
      .select(
        col("id"),
        (col("id") / 4).cast("long").plus(1L).as("l_orderkey"),
        (floor(u(seed, 1) * 20000) + 1).cast("long").as("l_partkey"),
        (floor(u(seed, 2) * 1000) + 1).cast("long").as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        col("l_quantity"),
        round(col("l_quantity") * (lit(900.0) + u(seed, 4) * 1100.0), 2).as("l_extendedprice"),
        round(u(seed, 5) * 0.1, 6).as("l_discount"),
        round(u(seed, 6) * 0.08, 6).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (floor(u(seed, 7) * 3) + 1).cast("int")).as("l_returnflag"),
        when(u(seed, 8) < 0.5, "O").otherwise("F").as("l_linestatus"),
        timestamp_seconds((lit(firstDay.toLong) + floor(u(seed, 9) * days)) * 86400L)
          .as("l_shipdate"))

  /** The planted drift: prices up 15%, 8% of rows in a new return flag,
    * 5% of tax values missing. */
  def withPlantedDrift(df: DataFrame, seed: Long): DataFrame =
    df.withColumn(ShiftedColumn, round(col(ShiftedColumn) * 1.15, 2))
      .withColumn(NewCategoryColumn, when(u(seed, 10) < 0.08, "X").otherwise(col(NewCategoryColumn)))
      .withColumn(NullColumn, when(u(seed, 11) < 0.05, lit(null)).otherwise(col(NullColumn)))

  /** Lineitem split into two versions by a seeded hash of the order key;
    * the second carries the planted drift. */
  def versionPair(spark: SparkSession, rows: Long, seed: Long,
      partitions: Int): (DataFrame, DataFrame) = {
    val all = lineitem(spark, rows, seed, firstDay = 9132, days = 2498, idBase = 0L, partitions)
    val inV0 = pmod(xxhash64(col("l_orderkey"), lit(seed)), lit(2L)) === 0L
    (all.where(inV0).drop("id"), withPlantedDrift(all.where(!inV0), seed).drop("id"))
  }

  /** One month of lineitem. `month` counts months since 1995-01. */
  def month(spark: SparkSession, rows: Long, seed: Long, month: Int, drifted: Boolean,
      partitions: Int): DataFrame = {
    val first = java.time.LocalDate.of(1995, 1, 1).plusMonths(month)
    val df = lineitem(spark, rows, seed, first.toEpochDay.toInt, first.lengthOfMonth,
      idBase = month.toLong * rows, partitions)
    (if (drifted) withPlantedDrift(df, seed) else df).drop("id")
  }

  /** A near-duplicate planted by the generator: `copyId` repeats `origId`'s
    * text with one inner space doubled, so the bytes differ but the word
    * shingles are the same. */
  final case class PlantedCopy(copyId: Long, origId: Long)

  private val Vocab = Array("query", "row", "stream", "batch", "sort", "value", "hash",
    "filter", "big", "data", "dup", "spark", "line", "small", "fast", "group", "customer",
    "part", "column", "order", "scan", "slow", "agg", "key", "window", "table", "merge",
    "vector", "join")
  private val Markers = Map(
    "en" -> Array("the", "a", "of", "and", "is"),
    "de" -> Array("der", "die", "das", "und", "nicht"),
    "fr" -> Array("le", "la", "les", "et", "est"),
    "es" -> Array("el", "la", "los", "que", "y"),
    "zh" -> Array.empty[String])
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** `docs` documents in the documents-table schema plus `copies` planted
    * near-duplicates of seeded originals. */
  def documents(spark: SparkSession, docs: Int, copies: Int,
      seed: Long): (DataFrame, Seq[PlantedCopy]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val originals = (0 until docs).map { i =>
      val lang = Langs(rnd.nextInt(Langs.length))
      val markers = Markers(lang)
      val words = Array.fill(10 + rnd.nextInt(91)) {
        if (markers.nonEmpty && rnd.nextDouble() < 0.15) markers(rnd.nextInt(markers.length))
        else Vocab(rnd.nextInt(Vocab.length))
      }
      val text = words.mkString(" ")
      (i.toLong, text, lang, s"src${rnd.nextInt(20)}")
    }
    val planted = (0 until copies).map(j => PlantedCopy(docs.toLong + j, rnd.nextInt(docs).toLong))
    val copyRows = planted.map { p =>
      val (_, text, lang, _) = originals(p.origId.toInt)
      val spaces = text.indices.filter(text.charAt(_) == ' ')
      val at = spaces(rnd.nextInt(spaces.size))
      (p.copyId, text.substring(0, at) + " " + text.substring(at), lang, s"src${rnd.nextInt(20)}")
    }
    import spark.implicits._
    val df = (originals ++ copyRows)
      .map { case (id, text, lang, source) => (id, text, lang, source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    (df, planted)
  }
}
