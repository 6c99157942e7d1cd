package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup is ~5s;
  * per-suite sessions would dominate test time).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(TempDirs.deleteRecursively(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Prep.ensure(s)
  }
}

/** Temp directories owned by one suite: each is deleted recursively once
  * the suite's tests have run, so a test run leaves nothing behind.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try made.forEach(d => TempDirs.deleteRecursively(d))
    finally super.afterAll()
}

object TempDirs {
  /** Deletes `root` and everything under it, children first. A failure is
    * reported, never thrown: cleanup must not fail the suite it follows.
    */
  def deleteRecursively(root: Path): Unit =
    try if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"could not delete temp dir $root: $e")
    }
}

abstract class SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs submitted while `f` runs. The status store is fed by the
    * listener bus, so the bus is drained before the first sample (in-flight
    * events of earlier work would land inside the window) and after `f`
    * (its own events can post after it returns).
    */
  def jobsRunBy(f: => Unit): Int = {
    val st = spark.sparkContext.statusTracker
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val before = st.getJobIdsForGroup(null).length
    f
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    st.getJobIdsForGroup(null).length - before
  }
}
