package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source operators (SURVEY.md §2.1, ops 2-6).
  *
  * The reference lands raw files (fixed-width death txt, `;`-CSV plant exports,
  * JSON API catalogs) and scans them permissively with pandas
  * (/root/reference/dags/global_dag.py:51-52,61-62,94-104,171-185). Here every
  * scan is a declarative Spark source so column pruning and predicate pushdown
  * reach the file reader.
  */
object Sources {

  /** Op 4 — permissive `;`-separated CSV scan; malformed lines silently dropped,
    * matching pandas `error_bad_lines=False` (global_dag.py:51-52,61-62).
    */
  def csvPermissive(
      spark: SparkSession,
      path: String,
      sep: String = ";",
      schema: Option[StructType] = None): DataFrame =
    permissiveReader(spark, sep, schema, header = true).csv(path)

  /** The same permissive scan over an in-memory line dataset — the testable
    * form of op 4 (same parser, same DROPMALFORMED semantics, no filesystem).
    * `header=false` by default: a distributed line dataset has no stable
    * "first row" to consume as a header, so callers pass an explicit schema.
    */
  def csvPermissiveLines(
      lines: org.apache.spark.sql.Dataset[String],
      sep: String = ";",
      schema: Option[StructType] = None,
      header: Boolean = false): DataFrame =
    permissiveReader(lines.sparkSession, sep, schema, header).csv(lines)

  private def permissiveReader(spark: SparkSession, sep: String,
                               schema: Option[StructType], header: Boolean) = {
    val r = spark.read
      .option("sep", sep)
      .option("header", header.toString)
      .option("mode", "DROPMALFORMED")
    schema.fold(r.option("inferSchema", "true"))(r.schema)
  }

  /** One fixed-width field: 1-based start byte + length (SQL substring convention). */
  final case class FixedField(name: String, start1: Int, len: Int, trimmed: Boolean = true)

  /** Op 5 — fixed-width text projection. The reference slices death records by
    * byte offsets (global_dag.py:96-103); note Python slice `[81:89]` is SQL
    * `substring(col, 82, 8)` (1-based).
    */
  def fixedWidth(lines: DataFrame, valueCol: String, fields: Seq[FixedField]): DataFrame = {
    val cols = fields.map { f =>
      val raw = substring(col(valueCol), f.start1, f.len)
      (if (f.trimmed) trim(raw) else raw).as(f.name)
    }
    lines.select(cols: _*)
  }

  /** The reference's death-record layout (global_dag.py:96-103; FIXTURES.md A1). */
  val deathRecordFields: Seq[FixedField] = Seq(
    FixedField("name_raw", 1, 80),
    FixedField("birth_raw", 82, 8),
    FixedField("death_raw", 155, 8),
    FixedField("insee", 163, 5)
  )

  /** Op 6 — glob file discovery with provenance, replacing the reference's
    * `os.walk` + prefix filter (global_dag.py:77-80).
    */
  def globText(spark: SparkSession, pattern: String): DataFrame =
    spark.read.text(pattern).withColumn("src_file", input_file_name())

  /** Op 2 — JSON catalog → resource selection: parse a data.gouv-style dataset
    * catalog, explode `resources`, keep a format, take the first n
    * (global_dag.py:171-185, 236-255).
    */
  def selectResources(catalog: DataFrame, format: String, maxResources: Int): DataFrame =
    // ORDERED take, not a bare limit: GlobalLimit pulls rows from
    // whichever partitions respond first, so a multi-file (or splittable)
    // catalog would select a run-dependent subset — the reference takes
    // the FIRST n in document order (global_dag.py:171-185), reproduced
    // here as (source file, position-in-array); plans as TakeOrdered.
    // (url, title) break the remaining ties into a TOTAL order: several
    // catalog records in ONE file (JSONL-style catalogs) — or a
    // non-file-backed frame, where input_file_name() is '' — all tie on
    // (_src, _pos), and a partial order under limit() is the same
    // run-dependent cutoff the ordering exists to prevent
    catalog
      .select(input_file_name().as("_src"),
        posexplode(col("resources")).as(Seq("_pos", "r")))
      .select(col("_src"), col("_pos"),
        col("r.format").as("format"), col("r.latest").as("url"), col("r.title").as("title"))
      .filter(col("format") === format)
      .orderBy(col("_src"), col("_pos"), col("url"), col("title"))
      .limit(maxResources)
      .drop("_src", "_pos")
}
