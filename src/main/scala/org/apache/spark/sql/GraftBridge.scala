package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column↔Expression conversion (Spark 4 moved the
  * public `Column(expr)` constructor behind `classic.ExpressionUtils`).
  * Lives in the spark.sql package solely to satisfy the access modifier.
  */
object GraftBridge {
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Release the block-manager storage behind a `localCheckpoint`ed Dataset.
    * `catalog.clearCache` does NOT touch checkpoint RDD blocks, so an
    * iterative algorithm that checkpoints per round leaks every round's
    * blocks for the session lifetime unless it frees them explicitly.
    * Collects the `LogicalRDD` leaves of the analyzed plan (the node a
    * checkpoint rewrites the Dataset to) and unpersists their RDDs.
    */
  def freeCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collect {
      case r: execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** True when the Dataset is ALREADY a flat, PERSISTED `LogicalRDD` leaf —
    * i.e. the result of a previous `localCheckpoint` whose blocks are still
    * held. Iterative operators use this to skip re-checkpointing an input a
    * caller has already materialized (a second checkpoint would copy every
    * block — at edge-corpus scale a full extra pass) and, symmetrically, to
    * know the input's blocks are the CALLER's to free, not theirs. The
    * storage-level check matters: a bare `spark.createDataFrame(rdd)` is
    * also a LogicalRDD leaf, but nothing is persisted, so skipping the
    * checkpoint there would re-execute the upstream RDD lineage once per
    * iteration — exactly the cost the checkpoint exists to avoid.
    */
  def isFlatRdd(df: Dataset[_]): Boolean =
    df.queryExecution.analyzed match {
      case r: execution.LogicalRDD =>
        r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }

  /** `ds` as a leaf over its own executed plan: the `LogicalRDD` that
    * `checkpoint` builds, with nothing persisted or checkpointed. Every
    * action on the result runs the same RDD, so a shuffle inside `ds`
    * writes its map output once and later actions skip that stage; the
    * work up to the first shuffle (scan, parse, broadcast) runs once.
    * The leaf keeps `ds`'s statistics and the partitioning and ordering
    * its executed plan claims; under AQE, whose final plan may coalesce
    * shuffle partitions, that claim is `UnknownPartitioning`. Building it
    * prepares `ds`'s physical plan, which starts its broadcasts' jobs;
    * under AQE it also runs `ds`'s shuffle stages (as a lazy
    * `localCheckpoint` does).
    */
  def onExecutedPlan(ds: Dataset[_]): DataFrame = {
    val c = ds.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(c.sparkSession,
      execution.LogicalRDD.fromDataset(c.queryExecution.toRdd, c, isStreaming = false))
  }

  /** Delete `dir` recursively when the JVM shuts down, after the
    * SparkContext has stopped (Spark's own temp-dir hook; registering a
    * dir twice is a no-op).
    */
  def deleteAtShutdown(dir: String): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(new java.io.File(dir))

  /** `df`'s plan as a DataFrame of `session`. An execution reports only to
    * its own session's listeners, so only that session's `Observation`s
    * complete from it, and generated code is cached per session class
    * loader, so a plan run in a fresh session compiles again.
    */
  def inSession(df: Dataset[_], session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** Table existence through Spark's own JDBC machinery — the connection
    * comes from the dialect's factory (which consults Spark's
    * DriverRegistry, so drivers shipped via `--jars` + the `driver`
    * property work) and the probe is the dialect's table-exists query
    * (`SELECT 1 FROM <table> WHERE 1=0`), which resolves schema-qualified
    * names and the connection's search path exactly like the subsequent
    * read/write will. A raw `DriverManager` + `getMetaData.getTables(null,
    * null, null)` probe gets all three wrong.
    */
  def jdbcTableExists(url: String, table: String, props: java.util.Properties): Boolean = {
    import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
    import scala.jdk.CollectionConverters._
    val params = props.asScala.map { case (k, v) => k.toString -> v.toString }.toMap ++
      Map("url" -> url, "dbtable" -> table)
    val opts = new JdbcOptionsInWrite(params)
    JdbcUtils.withConnection(opts) { conn =>
      // dialect probe first; but its not-found classifier keys on SQLState
      // class 42, which also covers ACCESS violations (e.g. SELECT denied
      // to a write-only account) — a false "absent" would skip the
      // idempotence anti-join. The metadata catalog still lists tables the
      // account cannot SELECT, so it arbitrates before we report absence.
      JdbcUtils.tableExists(conn, opts) || {
        val (schemaPat, namePat) = table.split("\\.") match {
          case Array(s, t) => (s, t)
          case _ => (null, table)
        }
        // getTables treats its arguments as LIKE patterns, so a literal '_'
        // (ubiquitous in table names) is a single-char wildcard — 'my_table'
        // would match a sibling 'my1table' and report a false "exists".
        // Escape pattern metacharacters with the driver's own escape string.
        val md = conn.getMetaData
        // some drivers (Derby) report an EMPTY escape string yet honor the
        // JDBC-conventional backslash — fall back to it on null/blank
        val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty).getOrElse("\\")
        def literal(s: String): String =
          s.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
        // scope an UNQUALIFIED probe to the connection's current
        // catalog/schema: getTables(null, null, name) matches a same-named
        // table in ANY schema — including ones off the search path that
        // the subsequent read cannot resolve — so "exists" would point at
        // a table the caller can never use and the legitimate first write
        // could never create its own. Drivers without the accessors (or
        // with no current schema) fall back to null = the old any-schema
        // match.
        def safe(get: => String): String =
          try get catch { case _: java.sql.SQLException => null }
        val (catScope, schemaScope) =
          if (schemaPat != null) (null: String, null: String)
          else (safe(conn.getCatalog), safe(conn.getSchema))
        Seq[String => String](identity, _.toUpperCase, _.toLowerCase).exists { f =>
          val rs = md.getTables(catScope,
            Option(schemaPat).map(f andThen literal)
              .getOrElse(Option(schemaScope).map(literal).orNull),
            literal(f(namePat)), Array("TABLE"))
          try rs.next() finally rs.close()
        }
      }
    }
  }

  /** Drop a JDBC table if present — the inverse bookend of
    * [[jdbcTableExists]], used by the op25 first-write-DDL key to
    * guarantee the store starts ABSENT so the first append exercises
    * creation even when the scratch database survives within a JVM.
    * Goes through the same dialect machinery (quoting, search path) as
    * the writes it precedes.
    */
  def jdbcDropIfExists(url: String, table: String, props: java.util.Properties): Unit = {
    import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
    import scala.jdk.CollectionConverters._
    if (jdbcTableExists(url, table, props)) {
      val params = props.asScala.map { case (k, v) => k.toString -> v.toString }.toMap ++
        Map("url" -> url, "dbtable" -> table)
      val opts = new JdbcOptionsInWrite(params)
      JdbcUtils.withConnection(opts)(conn => JdbcUtils.dropTable(conn, table, opts))
    }
  }

  /** Deterministically drain the async listener bus: returns only once
    * every event posted so far has been delivered to every listener.
    * Job-count pins (PlanSpec, `SPARK_GRAFT_JOBCOUNT` in graft.Bench)
    * sample counters fed by `SparkListener.onJobStart`; a fixed
    * `Thread.sleep` leaves a loaded
    * bus still posting after the sample, skewing before/after counts in
    * either direction. `listenerBus` is `private[spark]` — hence this
    * bridge.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
