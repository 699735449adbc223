package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit specs: small core/partition counts
  * (specs test semantics, not throughput) but the same canonical config
  * knobs as `Engine.builder` so behavior matches the driver contract.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  // Derives from Engine.builder so the canonical knobs AND the injected
  // native functions (GraftExtensions) are present, with small core /
  // partition counts (specs test semantics, not throughput).
  lazy val spark: SparkSession = Engine.builder(cores = "4")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (Test/fork := true gives
    // one JVM per test run) — do not stop it per-suite.
    super.afterAll()
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` with the session conf `key` set to `value`, then puts
    * back the value it had (or unsets it), pass or fail.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.graftshim.TestListenerShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graftshim.TestListenerShim.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
