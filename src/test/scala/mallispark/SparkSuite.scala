package mallispark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("mallispark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a plan whose generated code does not compile fails its test
      // instead of running silently on the interpreted fallback
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The number of Spark jobs `body` starts, and its result. */
  def jobsStartedBy[A](body: => A): (Int, A) = {
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc) // events of earlier jobs are not counted
    sc.addSparkListener(listener)
    try {
      val out = body
      TestListenerBus.drain(sc)
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }

  /** Recursive temp-dir cleanup — tests writing parquet/ORC scratch data
    * must not leak directories across the suite's many runs. */
  def rmTree(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.delete)
  }
}
