package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The specs' session: the program's own factory on `local[4]` (fixed, not
  * the host's core count, so partition-dependent pins hold on any box),
  * created before the suite's first test and stopped after its last. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  protected var spark: SparkSession = _

  /** Settings that must be in place before the session exists. */
  protected def builderConf: Seq[(String, String)] = Nil

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = Engine.createSession(suiteName, "local[4]", builderConf: _*)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}
