package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session recipe's settings are defaults: a `-Dspark.*` system
  * property the JVM carries wins over graft's value. */
class GraftSessionSpec extends AnyFunSuite {

  test("a -Dspark.* system property wins over graft's default") {
    val spark = TestSession.spark
    val key = "spark.sql.shuffle.partitions"
    val prev = sys.props.get(key)
    sys.props(key) = "7"
    // a fresh session over the running context, so the builder's settings
    // are applied rather than handed to the existing session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try GraftSession.build("graft-session-spec", "4") finally {
      prev match {
        case Some(v) => sys.props(key) = v
        case None => sys.props.remove(key)
      }
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(s ne spark)
    assert(s.conf.get(key) === "7")
    // a key the JVM leaves unset keeps graft's value
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") === "128m")
  }
}
