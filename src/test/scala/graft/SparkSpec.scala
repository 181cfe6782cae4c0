package graft

import graft.core.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark startup
  * dominates test time otherwise).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** Classpath probe for jar-gated integration specs (Kafka, Iceberg): the
    * spec `assume`s on this so coverage turns on automatically the day the
    * connector jar lands, and cancels (not fails) until then.
    */
  def canLoad(className: String): Boolean =
    try { Class.forName(className); true } catch { case _: Throwable => false }
}

trait SparkSpec extends AnyFunSuite with TempDirs {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf0001
}
