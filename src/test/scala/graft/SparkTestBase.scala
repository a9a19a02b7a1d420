package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * ScalaTest runs suites sequentially in the forked JVM, and Spark
  * session startup dominates test time otherwise). */
trait SparkTestBase extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkTestBase.session

  val Sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with session conf `key` set to `value`, restoring the
    * prior setting afterwards. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** Temp directories a suite creates, deleted with their contents when
  * the suite ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}

object SparkTestBase {
  /** The configuration every main and the benchmark run under
    * (`Sessions.confs`), so the specs test what gets benched. Like every
    * main, it runs at `SPARK_GRAFT_CPUS` or the host's core count (and
    * as many shuffle partitions); the suite has been verified at 4. */
  lazy val session: SparkSession = Sessions.local()
}
