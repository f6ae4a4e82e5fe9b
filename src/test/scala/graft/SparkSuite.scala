package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for ScalaTest suites: one local session per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def sf0001 = "/root/testdata/sf0.001"

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` with SQL confs set, restoring prior values after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val prior = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
