package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Queries, QueryDef}
import graft.ops.{Joins, ManifestTable, Sinks, Transforms}
import graft.pipeline.{StageDeaths, StagePlants}
import graft.streaming.Streaming

/** The benchmark's JVM: builds a session, runs the fixed warm-up, then one
  * cold pass of one workload, and writes what it measured to
  * `<out>/result.json`. Output checks happen in run.py, against expectations
  * computed apart from this program.
  *
  * Usage:
  *   perfbench.Main run --workload W --input DIR --warmup DIR --out DIR
  *                      --work DIR --trace 0|1 --cores N [--keys a,b]
  *   perfbench.Main oracles --keys a,b --file F
  */
object Main {

  /** One operation of the pass. `value` carries a count the checks need. */
  final case class Op(name: String, seconds: Double,
                      error: Option[String], value: Option[Long] = None)

  /** The warm-up key: run on the tiny warm-up tables in every workload;
    * it is in no timed list. */
  val WarmupKeys: Seq[String] = Seq("q6_forecast")

  def main(args: Array[String]): Unit = {
    val entered = System.nanoTime()
    val startedMs = ManagementFactory.getRuntimeMXBean.getUptime
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("oracles") => dumpOracles(opts("keys").split(",").toSeq, Paths.get(opts("file")))
      case Some("run") => run(opts, entered, startedMs)
      case _ => sys.error("usage: perfbench.Main run|oracles --option value ...")
    }
  }

  def keyDefs(keys: Seq[String]): Seq[QueryDef] = {
    val byName = Queries.all.map(q => q.name -> q).toMap
    val unknown = keys.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    keys.map(byName)
  }

  def dumpOracles(keys: Seq[String], file: Path): Unit = {
    val m = keyDefs(keys).map(q => q.name -> q.oracle.getOrElse(
      sys.error(s"key ${q.name} has no oracle"))).toMap
    Files.writeString(file, Json(m))
  }

  def run(opts: Map[String, String], entered: Long, startedMs: Long): Unit = {
    val workload = opts("workload")
    val input = opts("input")
    val out = Paths.get(opts("out"))
    val work = Paths.get(opts("work"))
    val traced = opts("trace") == "1"
    Files.createDirectories(out)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[${opts("cores")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = startedMs / 1e3 + (System.nanoTime() - entered) / 1e9

    warmup(spark, opts("warmup"))
    val setupS = startedMs / 1e3 + (System.nanoTime() - entered) / 1e9
    System.err.println(f"[perfbench] jvm start to main ${startedMs / 1e3}%.2f s, " +
      f"session ready $sessionS%.2f s, warm-up done $setupS%.2f s")

    val tracer = if (traced) Some(Tracer.attach(spark)) else None
    val w: Workload = workload match {
      case "query_suite" =>
        new KeyList(spark, input, keyDefs(opts("keys").split(",").toSeq), out, tracer)
      case "reference_etl" => new ReferenceEtl(spark, input, out, work, tracer)
      case "daily_ingest" => new DailyIngest(spark, input, out, work, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    tracer.foreach(_.begin())
    val t0 = System.nanoTime()
    val ops = w.run()
    val wallS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] pass: $wallS%.2f s")
    tracer.foreach(_.end())
    val result = Map[String, Any](
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "ops" -> ops.map(o => Map[String, Any]("name" -> o.name,
        "seconds" -> o.seconds, "error" -> o.error, "value" -> o.value)),
      "trace" -> tracer.map(_.report(w.traceExtras)))
    try spark.stop() catch { case e: Throwable => System.err.println(s"[perfbench] stop: $e") }
    Files.writeString(out.resolve("result.json"), Json(result))
  }

  /** The fixed warm-up: one key on the tiny warm-up tables. Identical for
    * every workload. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    keyDefs(WarmupKeys).foreach(q =>
      q.fn(spark, dir).write.format("noop").mode("overwrite").save())
    spark.catalog.clearCache()
  }

  /** Runs `body` as operation `name`; an exception is a failed operation. */
  def op(name: String)(body: => Option[Long]): Op = {
    val t = System.nanoTime()
    try {
      val v = body
      Op(name, (System.nanoTime() - t) / 1e9, None, v)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, (System.nanoTime() - t) / 1e9, Some(String.valueOf(e.getMessage).take(300)))
    }
  }

  def treeBytes(p: Path): Map[String, Long] = if (!Files.exists(p)) Map.empty else {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally st.close()
  }
}

trait Workload {
  def run(): Seq[Main.Op]
  /** Workload-specific per-layer figures for the trace report. */
  def traceExtras: Map[String, Double] = Map.empty
}

/** `query_suite`: every key once, its result written as parquet under
  * `<out>/<key>` for the checks. The pass starts with Spark's generated-class
  * cache emptied, so the keys pay their code generation and compilation as
  * in a cold run, whatever the warm-up compiled. */
final class KeyList(spark: SparkSession, dir: String, keys: Seq[QueryDef], out: Path,
                    tracer: Option[Tracer]) extends Workload {
  def run(): Seq[Main.Op] = {
    Tracer.clearCodegenCache()
    keys.map { q =>
      val o = Main.op(q.name) {
        val df = Tracer.span(tracer, "queries.build")(q.fn(spark, dir))
        df.write.mode("overwrite").parquet(out.resolve(q.name).toString)
        None
      }
      spark.catalog.clearCache()
      tracer.foreach(_.endOp(q.name, o.seconds))
      o
    }
  }
}

/** `reference_etl`: the paper's pipeline over the generated corpus. */
final class ReferenceEtl(spark: SparkSession, dir: String, out: Path, work: Path,
                         tracer: Option[Tracer]) extends Workload {
  private var sinkFiles = 0L

  def run(): Seq[Main.Op] = {
    val sink = work.resolve("etl")
    // built inside the stage operation, so a failure to build counts as
    // that operation failing; the appends then fail on the missing frame
    var deaths: DataFrame = null
    val stage = Main.op("stage") {
      Tracer.span(tracer, "pipeline.stage") {
        deaths = StageDeaths(spark, s"$dir/death_*", s"$dir/city_geo.csv")
        val plants = Transforms.filterValid(
            StagePlants(spark, s"$dir/thermal.csv", s"$dir/nuclear.csv"), Seq("latitude", "longitude"))
          .select(col("plant_name"), col("plant_type"),
            col("latitude").as("p_lat"), col("longitude").as("p_lon"))
        Joins.radiusJoin(deaths, plants, deaths("latitude"), deaths("longitude"),
            plants("p_lat"), plants("p_lon"),
            radiusKm = 10.0, latCellDeg = 0.1, lonCellDeg = 0.15, maxAbsLatDeg = 52.0)
          .groupBy(col("plant_name"), col("plant_type"), year(col("date_of_death")).as("year"))
          .agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(out.resolve("plant_year_counts").toString)
      }
      None
    }
    tracer.foreach(_.endOp("stage", stage.seconds))
    val appends = Seq("append", "append_again").map { name =>
      val o = Main.op(name) {
        Some(Tracer.span(tracer, "pipeline.persist") {
          Sinks.idempotentParquetAppend(spark,
            deaths.withColumn("death_year", year(col("date_of_death"))),
            sink.resolve("deaths").toString, Seq("id"), Seq("death_year"))
        })
      }
      tracer.foreach(_.endOp(name, o.seconds))
      o
    }
    if (tracer.isDefined)
      sinkFiles = (Main.treeBytes(sink) ++ Main.treeBytes(out.resolve("plant_year_counts")))
        .keys.count(_.endsWith(".parquet"))
    stage +: appends
  }

  override def traceExtras: Map[String, Double] = Map("sinks.files" -> sinkFiles.toDouble)
}

/** `daily_ingest`: each daily file lands, then the ingest restarts from its
  * checkpoint with an available-now trigger, the way a scheduled daily job
  * would, and merges into a manifest table; a reader then counts the latest
  * snapshot. Every third batch the reader also reads the version committed
  * two batches earlier (time travel) and the table is compacted. */
final class DailyIngest(spark: SparkSession, dir: String, out: Path, work: Path,
                        tracer: Option[Tracer]) extends Workload {
  private val files = Files.list(Paths.get(dir)).iterator().asScala
    .map(_.getFileName.toString).filter(_.startsWith("death_")).toSeq.sorted
  private var tableBytes = 0L
  private var landedBytes = 0L
  private var commits = 0L
  private val Every = 3

  def run(): Seq[Main.Op] = {
    val base = work.resolve("daily")
    val landing = Files.createDirectories(base.resolve("landing"))
    val root = base.resolve("table")
    val table = ManifestTable(spark, root.toString)
    val versions = ArrayBuffer.empty[Long]
    val ops = ArrayBuffer.empty[Main.Op]
    var seen = Main.treeBytes(root)
    files.zipWithIndex.foreach { case (f, i) =>
      val src = Paths.get(dir, f)
      val o = Main.op(s"batch$i") {
        // land atomically: the source lists death_* only
        val tmp = landing.resolve(s".landing-$f")
        Files.copy(src, tmp)
        Files.move(tmp, landing.resolve(f), StandardCopyOption.ATOMIC_MOVE)
        val q = Tracer.span(tracer, "streaming.start") {
          Streaming.acidMergeSink(Streaming.deathFileStream(spark, landing.toString), table, Seq("id"))
            .option("checkpointLocation", base.resolve("checkpoint").toString)
            .trigger(Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        val n = Tracer.span(tracer, "manifest.read")(table.snapshot().count())
        versions += table.latestVersion().getOrElse(-1L)
        Some(n)
      }
      ops += o
      tracer.foreach(_.endOp(s"batch$i", o.seconds))
      if (tracer.isDefined) {
        val now = Main.treeBytes(root)
        tableBytes += now.collect { case (k, v) if !seen.contains(k) => v }.sum
        landedBytes += Files.size(src)
        seen = now
      }
      if ((i + 1) % Every == 0) {
        val back = i - 2
        val tt = Main.op(s"time_travel$back") {
          Tracer.span(tracer, "manifest.read") {
            table.snapshotAt(versions(back)).select("id")
              .write.mode("overwrite").parquet(out.resolve(s"time_travel$back").toString)
          }
          None
        }
        ops += tt
        ops += Main.op(s"compact$i")(Some(table.compact()))
        if (tracer.isDefined) {
          val now = Main.treeBytes(root)
          tableBytes += now.collect { case (k, v) if !seen.contains(k) => v }.sum
          seen = now
        }
      }
    }
    ops += Main.op("final") {
      table.snapshot().select("id").write.mode("overwrite")
        .parquet(out.resolve("final").toString)
      None
    }
    if (tracer.isDefined) commits = table.latestVersion().map(_ + 1).getOrElse(0L)
    ops.toSeq
  }

  override def traceExtras: Map[String, Double] = Map(
    "manifest.commits" -> commits.toDouble,
    "manifest.write_amp" -> (if (landedBytes == 0) 0.0 else tableBytes.toDouble / landedBytes))
}

/** A minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
