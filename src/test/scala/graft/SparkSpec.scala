package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — ScalaTest
  * suites run in one forked JVM, `getOrCreate` dedups). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .appName("graft-test")
    .getOrCreate()

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** Exact listener-bus drain via reflection: `SparkContext.listenerBus`
    * and `LiveListenerBus.waitUntilEmpty` are private[spark] in Scala
    * but public in bytecode. A timed drain (not a sleep) makes job
    * attribution exact — every event posted so far has reached every
    * listener and the status tracker when it returns. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(30000L))
    ()
  }

  /** Order-insensitive row comparison: rows as canonical strings. */
  def rowSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq
}
