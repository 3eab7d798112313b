package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext

  /** Smallest driver-generated fixture dir; overridable via env/prop so
    * the suite isn't pinned to this machine's layout.
    */
  protected lazy val sf0001: String =
    sys.env.get("SPARK_GRAFT_TESTDATA")
      .orElse(sys.props.get("graft.testdata"))
      .getOrElse("/root/testdata") + "/sf0.001"

  /** Run `f` on a separate session with GraftExtensions applied (the
    * shared test session is extension-free), then restore the shared
    * session for the other suites. Two traps when a SparkContext already
    * exists: (1) getOrCreate returns any active/default session AS IS —
    * so clear both; (2) the `spark.sql.extensions` CONF is read from the
    * (extension-free) context conf at creation, so the extensions must
    * also ride the builder's withExtensions hook, which is applied to
    * the created session regardless. A concurrent suite can still slip a
    * default session in between the clear and the create (suites share
    * the JVM and run in parallel), so retry the narrow race.
    */
  protected def withExtSession[A](f: SparkSession => A): A = {
    def fresh(attempts: Int): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val c = SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .withExtensions(new GraftExtensions().apply(_))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      if (c.catalog.functionExists("graft_dot") &&
          c.sessionState.planner.strategies.contains(graft.plans.TopKPerGroupStrategy)) c
      else if (attempts <= 1)
        fail("could not obtain a session with GraftExtensions applied")
      else fresh(attempts - 1)
    }
    val s = fresh(5)
    try f(s)
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}

object SparkSpec {
  // One session for the whole forked test JVM — Spark startup is ~5s.
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
