package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  * All reads are plain parquet scans so Catalyst can push filters and
  * prune columns down to the file source.
  */
object Tables {
  // The DataFrame is deliberately NOT memoized: caching it would pin the
  // parquet file listing (stale reads after a rewrite), break Column-based
  // self-joins (identical attribute ids), and leak sessions (a Dataset
  // strongly references its session, defeating weak keys). The SCHEMA is
  // memoized per path: the testdata schemas are immutable, schema carries
  // no session or file-listing state, and passing it via `.schema(...)`
  // skips a footer-inference pass per read — a fixed cost paid on every
  // one of the ~150 table reads of a bench run, and several times that
  // under driver-host load.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    Prep.ensure(spark)
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Every driver table — THE list warmup/tooling loops must iterate so a
    * table added here can never be silently skipped.
    */
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
