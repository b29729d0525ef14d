package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite; cheap after the first). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  import scala.language.implicitConversions
  implicit def sparkImplicits: SparkSession = spark
}

object SparkSpec {
  /** The mains' conf contract on a fixed local[4], independent of the
    * host's core count. */
  lazy val session: SparkSession = graft.pipeline.SparkSessionFactory.local(4)
}
