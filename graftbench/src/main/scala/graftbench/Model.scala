package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Parsers
import graft.mapping.{IndexedCol, Mapping}

/** The keyed table the commit workload maintains, the
  * graft mapping that imports the messy CSV into it, and the plain-Spark
  * readers and digests the correctness checks use. */
object Model {

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("ref", StringType),
    StructField("region", StringType),
    StructField("amount", DoubleType),
    StructField("qty", LongType),
    StructField("order_date", DateType),
    StructField("active", BooleanType),
    StructField("tags", ArrayType(StringType, containsNull = false)),
    StructField("note", StringType)))

  /** The import mapping in the reference's parser vocabulary: inferred
    * parsers for the typed columns (padded integers, fr_FR dates in
    * several formats, oui/vrai/yes booleans, blanks to NULL), an amount
    * parsed per row in the row's own locale (fr_FR or en_US, `(x)`
    * negatives, thousands groups), and a quote-aware list split. */
  def mapping(): Mapping = {
    val m = new Mapping("id")
    m.col("id", 0)
    m.col("ref", 1)
    m.col("region", 2)
    val locale = IndexedCol(3, Some(identity[Column] _))
    val raw = IndexedCol(4, Some(identity[Column] _))
    m.computed("amount", Seq(locale, raw), cs =>
      when(trim(cs(0)) === "fr", Parsers.str2floatamount(cs(1), "fr_FR"))
        .otherwise(Parsers.str2floatamount(cs(1), "en_US")))
    m.col("qty", 5)
    m.col("order_date", 6)
    m.col("active", 7)
    m.col("tags", 8, (c: Column) => Parsers.formatList(c))
    m.col("note", 9)
    m
  }

  // ------------------------------------------------- plain-Spark truth

  private val TruthSchema = StructType(Gen.TruthHeader.map(
    StructField(_, StringType)))

  /** The typed truth rows of the given truth TSVs, in file order, as
    * (table columns, `_f` = file ordinal, `seq`). Plain Spark only. */
  def truthRows(spark: SparkSession, files: Seq[String]): DataFrame =
    files.zipWithIndex.map { case (f, i) =>
      spark.read.schema(TruthSchema).option("sep", "\t")
        .option("quote", "\u0000").csv(f).withColumn("_f", lit(i))
    }.reduce(_ unionByName _)
      .select(
        col("id").cast(LongType).as("id"), col("ref"), col("region"),
        col("amount").cast(DoubleType).as("amount"),
        col("qty").cast(LongType).as("qty"),
        col("order_date").cast(DateType).as("order_date"),
        col("active").cast(BooleanType).as("active"),
        coalesce(col("tags"), lit("")).as("tags"), col("note"),
        col("_f"), col("seq").cast(LongType).as("seq"))

  /** Last write wins per key over the truth files in order: the state a
    * correct import must commit. */
  def truthState(spark: SparkSession, files: Seq[String]): DataFrame = {
    val t = truthRows(spark, files)
    val cols = Seq("ref", "region", "amount", "qty", "order_date",
      "active", "tags", "note")
    t.groupBy(col("id"))
      .agg(max_by(struct(cols.map(col): _*), struct(col("_f"), col("seq")))
        .as("w"))
      .select(col("id") +: cols.map(c => col(s"w.$c").as(c)): _*)
  }

  /** Order-independent (row count, hash sum) of a frame's rows. */
  def digest(df: DataFrame, cols: Seq[Column]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")),
        lit(0).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Digest columns of the table, with `tags` flattened as the truth
    * files spell it (`a|b|c`, empty for no tags). */
  def tableCols(tagsAsString: Boolean): Seq[Column] = Seq(col("id"),
    col("ref"), col("region"), col("amount"), col("qty"),
    col("order_date"), col("active"),
    if (tagsAsString) col("tags") else concat_ws("|", col("tags")),
    col("note"))

  /** The index content a refresh must produce: key lists per `ref`. */
  def truthIndex(state: DataFrame): DataFrame =
    state.groupBy(col("ref")).agg(sort_array(collect_list(col("id")))
      .as("keys"))

  /** The view content a refresh must produce. */
  def truthView(state: DataFrame): DataFrame =
    state.groupBy(col("region")).agg(count(lit(1)).as("n_rows"),
      sum(coalesce(col("qty"), lit(0L))).as("sum_qty"),
      min(col("amount")).as("min_amount"),
      max(col("amount")).as("max_amount"))

  val ViewCols: Seq[String] =
    Seq("region", "n_rows", "sum_qty", "min_amount", "max_amount")

  /** A graft answer row in [[Gen.Rec.canonical]] form. */
  def canonical(r: Row): String = {
    def opt(i: Int)(f: Int => String): String =
      if (r.isNullAt(i)) "" else f(i)
    Seq(
      r.getLong(0).toString, r.getString(1), r.getString(2),
      java.lang.Double.toString(r.getDouble(3)),
      opt(4)(i => r.getLong(i).toString),
      opt(5)(i => r.get(i) match {
        case d: java.sql.Date => d.toLocalDate.toString
        case d => d.toString
      }),
      opt(6)(i => r.getBoolean(i).toString),
      opt(7)(i => r.getSeq[String](i).mkString("|")),
      opt(8)(i => r.getString(i))).mkString("\t")
  }
}
