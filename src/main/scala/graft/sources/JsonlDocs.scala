package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSONL (one JSON object per line) document interchange — the lingua
  * franca of training-data pipelines between engines/teams.
  *
  * Reading goes through `text` + `from_json` rather than the built-in
  * json source: malformed lines become an explicit QUARANTINE stream
  * (the built-in source's internal corrupt-record column cannot be
  * selected on its own, and silently dropping bad lines is how corpus
  * counts drift between pipeline stages). The text scan is splittable,
  * the parse is a narrow map — 100 TB reads are embarrassingly
  * parallel; schema is enforced, never inferred (inference would scan
  * the corpus twice and can flip types between snapshots). A valid
  * object MISSING a field parses as null in that column (schema-
  * permissive) — only unparseable lines quarantine. */
object JsonlDocs {

  def write(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite").json(path)

  /** Quarantine marker inside the parse struct: PERMISSIVE from_json
    * keeps a PARTIALLY malformed object as a struct with null fields —
    * only the corrupt-record column distinguishes "parsed with a
    * legitimately missing field" from "unparseable value". A wholly
    * non-JSON line yields a null struct; both forms are quarantined. */
  private val CorruptCol = "__graft_corrupt"

  /** The ONE lines→status transform behind [[readWithStatus]]. Input:
    * a DataFrame with a single `value` line column. Output:
    * `raw_line`, `is_good`, then the schema columns. */
  private[graft] def statusFromLines(lines: DataFrame,
                                     schema: StructType): DataFrame = {
    val reserved = Seq(CorruptCol, "raw_line", "is_good")
    require(!schema.fieldNames.exists(reserved.contains),
      s"schema may not contain reserved columns ${reserved.mkString(", ")}")
    val withCr = schema.add(StructField(CorruptCol, StringType))
    lines
      // blank lines are not docs; trim tabs too — a tab-only separator
      // line must be skipped, not quarantined (default trim is
      // space-only; CR is already stripped by the text source lineSep)
      .filter(length(trim(col("value"), " \t")) > 0)
      .withColumn("j", from_json(col("value"), withCr,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)))
      .select((col("value").as("raw_line") +: isGood.as("is_good") +:
        schema.fieldNames.map(f => col(s"j.$f").as(f)).toSeq): _*)
  }

  private def isGood: Column =
    col("j").isNotNull && col(s"j.$CorruptCol").isNull

  /** Well-formed rows only, in the given schema. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readWithStatus(spark, path, schema).filter(col("is_good"))
      .drop("raw_line", "is_good")

  /** ONE-pass read: every non-blank line as a row with `is_good`, the
    * schema columns (null when malformed), and `raw_line`. This is the
    * form to consume when you need both streams — the pair returned by
    * [[readWithQuarantine]] is two plan subtrees over the same scan, so
    * a job reading both without persisting pays the scan+parse twice. */
  def readWithStatus(spark: SparkSession, path: String,
                     schema: StructType): DataFrame =
    statusFromLines(spark.read.text(path), schema)

  /** (good rows, quarantined raw lines). Convenience split — see
    * [[readWithStatus]] for the single-pass form. */
  def readWithQuarantine(spark: SparkSession, path: String,
                         schema: StructType): (DataFrame, DataFrame) = {
    val p = readWithStatus(spark, path, schema)
    (p.filter(col("is_good")).drop("raw_line", "is_good"),
      p.filter(!col("is_good")).select(col("raw_line")))
  }
}
