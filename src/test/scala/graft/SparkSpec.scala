package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. sf0.001 fixtures only (SURVEY
  * §5: unit tests pin sf0.001; sf0.01 belongs to the driver's oracle).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` under the RocksDB state-store provider, which
    * `transformWithState` needs, then restores the previous one. */
  def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  override def afterAll(): Unit = () // shared session — never stop it
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)
}
