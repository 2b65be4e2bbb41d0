package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait TestSpark extends AnyFunSuite with BeforeAndAfterAll
    with BeforeAndAfterEach {
  // test logging policy (incl. silencing StreamingJoinHelper's benign
  // caught-exception WARN traces) lives in src/test/resources/
  // log4j2.properties — Spark only installs its own defaults when no
  // explicit config is on the classpath, so runtime Configurator calls
  // made before session init get wiped
  lazy val spark: SparkSession =
    GraftSession.tune(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4))
      .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Entries in the session's CacheManager (cached plans). */
  def cacheEntries: Int = org.apache.spark.sql.CacheEntries(spark)

  override def afterEach(): Unit = {
    // specs cache plans of their own and run staged operators outside a
    // Staging.scope; consecutive tests (and queries sharing a stage
    // plan, e.g. d03/d06/d07) would otherwise find those plans cached
    spark.catalog.clearCache()
    super.afterEach()
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}
