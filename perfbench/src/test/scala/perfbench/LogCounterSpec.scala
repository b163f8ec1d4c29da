package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The log-event counter counts the events the engine really emits. */
class LogCounterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    val work = Paths.get("target", "logcounter").toAbsolutePath
    Files.createDirectories(work)
    spark = Main.session(work.toString)
    LogCounter.install()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def counted(f: => Unit): (Long, Long) = {
    val (c0, w0) = LogCounter.snapshot
    f
    val (c1, w1) = LogCounter.snapshot
    (c1 - c0, w1 - w0)
  }

  test("a window with no partition spec counts unpartitioned-window warnings") {
    val df = spark.range(10).withColumn("r", row_number().over(Window.orderBy(col("id"))))
    val (fallbacks, windows) = counted(df.write.format("noop").mode("overwrite").save())
    // the planner warns each time it asks for the window's distribution
    assert(windows >= 1)
    assert(fallbacks == 0)
  }

  test("a projection too large to compile counts a codegen fallback") {
    // one expression of 1024 nullable products: its generated method
    // outgrows the JVM's 64 KB limit, so whole-stage codegen falls back
    val x = when(col("id") < 100, col("id").cast("double"))
    def sum(lo: Int, hi: Int): Column =
      if (hi - lo == 1) x * lit(lo) else sum(lo, (lo + hi) / 2) + sum((lo + hi) / 2, hi)
    val df = spark.range(4).select(sum(1, 1025).as("s"))
    val (fallbacks, windows) = counted {
      assert(df.collect().map(_.getDouble(0)).toSeq.sorted == (0 until 4).map(_ * 524800.0))
    }
    assert(fallbacks >= 1)
    assert(windows == 0)
  }

  test("an ordinary query counts nothing") {
    val (fallbacks, windows) = counted(spark.range(100).groupBy(col("id") % 3).count().collect())
    assert((fallbacks, windows) == (0L, 0L))
  }
}
