package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Headerless CSV document interchange — the other lingua-franca
  * format next to [[JsonlDocs]], same design: read through `text` +
  * `from_csv` so malformed lines become an explicit QUARANTINE stream
  * instead of silently dropping (count drift) or nulling out
  * (poisoned rows). The text scan is splittable and the parse a
  * narrow map — 100 TB reads stay embarrassingly parallel; schema is
  * enforced, never inferred.
  *
  * Contract: HEADERLESS files (the sharded-interchange form — a
  * header is a file-level construct a line-splittable reader cannot
  * see), and no embedded newlines inside quoted fields (the same
  * restriction Spark's own splittable `multiLine=false` CSV scan
  * has; [[write]] emits `\n`-free fields as long as the data has
  * none — enforce upstream with a scrub, not here). Quoting of
  * separators/quotes inside fields round-trips: writer and parser
  * share RFC-4180 quoting.
  */
object CsvDocs {

  /** Byte-exact writer: Spark's CSV writer TRIMS leading/trailing
    * whitespace by default (ignoreLeading/TrailingWhiteSpace default
    * true on write, false on read) — silent corpus mutation for a
    * format meant to round-trip training text; both are disabled. */
  def write(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite").option("header", "false")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  private val CorruptCol = "__graft_corrupt"

  /** The ONE lines→status transform (shape shared with
    * [[JsonlDocs.statusFromLines]]). PERMISSIVE `from_csv` sets the
    * corrupt-record column on type mismatch and on field-count
    * mismatch in EITHER direction
    * — CSV fields are positional, so unlike JSONL's named fields a
    * short row is structural corruption (no way to know which fields
    * are absent) and quarantines rather than null-filling. */
  private[graft] def statusFromLines(lines: DataFrame,
                                     schema: StructType): DataFrame = {
    val reserved = Seq(CorruptCol, "raw_line", "is_good")
    require(!schema.fieldNames.exists(reserved.contains),
      s"schema may not contain reserved columns ${reserved.mkString(", ")}")
    val withCr = schema.add(StructField(CorruptCol, StringType))
    // The writer distinguishes empty string (quoted `""`) from null
    // (bare empty field), but the DEFAULT parser collapses both to
    // null: nullValue defaults to "" and claims quoted empties, and an
    // explicit emptyValue of "" is ignored (empty option values read
    // as unset — probed, not assumed). Pointing nullValue at the NUL
    // frees the quoted empty to parse as "" while bare fields stay
    // null natively — completing the byte-exact round-trip. Contract
    // cost: a field that IS the single NUL character reads as null
    // (CSV cannot carry NUL safely in any case).
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptCol,
      "nullValue" -> "\u0000")
    lines
      .filter(length(trim(col("value"), " \t")) > 0)
      .withColumn("c", from_csv(col("value"), withCr, opts))
      .select((col("value").as("raw_line") +: isGood.as("is_good") +:
        schema.fieldNames.map(f => col(s"c.$f").as(f)).toSeq): _*)
  }

  private def isGood: Column =
    col("c").isNotNull && col(s"c.$CorruptCol").isNull

  /** Well-formed rows only, in the given schema. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readWithStatus(spark, path, schema).filter(col("is_good"))
      .drop("raw_line", "is_good")

  /** ONE-pass read: every non-blank line with `is_good`, the schema
    * columns (null when malformed), and `raw_line` — consume this form
    * when a job needs both streams (the [[readWithQuarantine]] pair is
    * two subtrees over the same scan). */
  def readWithStatus(spark: SparkSession, path: String,
                     schema: StructType): DataFrame =
    statusFromLines(spark.read.text(path), schema)

  /** (good rows, quarantined raw lines). */
  def readWithQuarantine(spark: SparkSession, path: String,
                         schema: StructType): (DataFrame, DataFrame) = {
    val p = readWithStatus(spark, path, schema)
    (p.filter(col("is_good")).drop("raw_line", "is_good"),
      p.filter(!col("is_good")).select(col("raw_line")))
  }
}
