package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Session.Role

/** The session conf table as a pure function: every main's session is
  * the common table plus its role's named differences, pinned here
  * without starting Spark.
  */
class SessionSpec extends AnyFunSuite {

  private val app = "graft-test"
  private val nproc = Runtime.getRuntime.availableProcessors().toString
  private val shj = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val cpuKeys = Set("spark.master", "spark.sql.shuffle.partitions")

  private val allSeams = Map(
    "SPARK_GRAFT_MASTER" -> "local-cluster[2,2,1024]",
    "SPARK_GRAFT_JARS" -> "/tmp/graft.jar",
    "SPARK_GRAFT_AQE" -> "false",
    "SPARK_GRAFT_CODEGEN" -> "false",
    "SPARK_GRAFT_AQE_PARALLELISM_FIRST" -> "false",
    "SPARK_GRAFT_AQE_SHJ_THRESHOLD" -> "16m",
    "SPARK_GRAFT_STATE_STORE" -> "rocksdb")
  private val envs = Seq(Map.empty[String, String], allSeams)
  private val propSets = Seq(Map.empty[String, String], Map("spark.master" -> "yarn"))

  private def changed(a: Map[String, String], b: Map[String, String]): Set[String] =
    (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))

  test("any two roles differ only in the keys their differences name") {
    for (env0 <- envs; props <- propSets) {
      // a shared SPARK_GRAFT_CPUS takes the per-role cpus defaults out
      val env = env0 + ("SPARK_GRAFT_CPUS" -> "6")
      def named(r: Role) = Session.differences(r, env, props).flatMap(_.keys).toSet
      for (r1 <- Role.all; r2 <- Role.all) {
        val d = changed(Session.spec(r1, app, env, props), Session.spec(r2, app, env, props))
        assert(d.subsetOf(named(r1) ++ named(r2)),
          s"$r1 vs $r2 (env $env0, props $props): unnamed ${d -- named(r1) -- named(r2)}")
      }
    }
    // every difference says why it is there
    for (r <- Role.all; env <- envs; props <- propSets; d <- Session.differences(r, env, props))
      assert(d.why.nonEmpty, s"$r: $d")
  }

  test("the CLI role with no env and no spark.master is exactly the parent's conf set") {
    assert(Session.spec(Role.Cli, app, Map.empty, Map.empty) == Map(
      "spark.app.name" -> app,
      "spark.master" -> "local[*]",
      "spark.sql.shuffle.partitions" -> nproc,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false"))
    // under spark-submit its master and partitions stand
    val submitted = Session.spec(Role.Cli, app, Map.empty, Map("spark.master" -> "yarn"))
    assert((submitted.keySet & cpuKeys).isEmpty)
    // a stray SPARK_GRAFT_CPUS does not resize the CLI
    assert(Session.spec(Role.Cli, app, Map("SPARK_GRAFT_CPUS" -> "32"), Map.empty) ==
      Session.spec(Role.Cli, app, Map.empty, Map.empty))
  }

  test("Bench and Verify are equal apart from the cpus default") {
    for (env <- envs; props <- propSets) {
      val b = Session.spec(Role.Bench, app, env, props)
      val v = Session.spec(Role.Verify, app, env, props)
      assert(changed(b, v).subsetOf(cpuKeys), s"env $env")
      val cpus = env + ("SPARK_GRAFT_CPUS" -> "6")
      assert(Session.spec(Role.Bench, app, cpus, props) ==
        Session.spec(Role.Verify, app, cpus, props))
    }
    // the seams reach both: a Bench run under AQE/codegen/parallelismFirst
    // overrides is checked by an oracle run under the same overrides
    val v = Session.spec(Role.Verify, app, allSeams, Map.empty)
    assert(v("spark.sql.adaptive.enabled") == "false")
    assert(v("spark.sql.codegen.wholeStage") == "false")
    assert(v("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(Session.spec(Role.Bench, app, Map.empty, Map.empty)("spark.master") == "local[32]")
    assert(Session.spec(Role.Verify, app, Map.empty, Map.empty)("spark.master") == "local[4]")
  }

  test("a lowered SHJ threshold keeps advisory <= threshold in every role that carries it") {
    val env = Map("SPARK_GRAFT_AQE_SHJ_THRESHOLD" -> "16m")
    val carriers = Role.all.filter(r => Session.spec(r, app, env, Map.empty).contains(shj))
    assert(carriers.toSet == Role.all.toSet - Role.ExplainFinal - Role.Cli)
    for (r <- carriers) {
      val s = Session.spec(r, app, env, Map.empty)
      assert(s(shj) == (16L << 20).toString, r)
      assert(s(advisory).toLong <= s(shj).toLong, r)
    }
    // the seam never adds the conf to a role whose difference dropped it
    assert(!Session.spec(Role.ExplainFinal, app, env, Map.empty).contains(advisory))
  }

  test("SPARK_GRAFT_EXTRA_CONF overrides a table value in every role") {
    val env = Map("SPARK_GRAFT_EXTRA_CONF" ->
      "spark.sql.session.timeZone=Asia/Taipei;spark.ui.enabled=true",
      "SPARK_GRAFT_STATE_STORE" -> "rocksdb")
    for (r <- Role.all; props <- propSets) {
      val s = Session.spec(r, app, env, props)
      assert(s("spark.sql.session.timeZone") == "Asia/Taipei", r)
      assert(s("spark.ui.enabled") == "true", r)
    }
  }

  test("Explain audits static plans under Bench's join confs") {
    val e = Session.spec(Role.Explain, app, Map.empty, Map.empty)
    val b = Session.spec(Role.Bench, app, Map.empty, Map.empty)
    assert(e("spark.sql.adaptive.enabled") == "false")
    assert(Seq("spark.sql.autoBroadcastJoinThreshold", shj, advisory).forall(k => e(k) == b(k)))
    assert(Session.spec(Role.Explain, app, Map("SPARK_GRAFT_AQE" -> "true"), Map.empty)(
      "spark.sql.adaptive.enabled") == "true")
  }
}
