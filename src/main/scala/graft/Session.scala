package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every main. A [[Session.Role]]'s
  * session is ONE conf table: the common base, the role's explicit
  * [[Session.Difference]]s, the env seams over the keys that result
  * carries, and SPARK_GRAFT_EXTRA_CONF last. [[Session.spec]] is the
  * table as a pure function of (role, env, JVM system properties);
  * [[Session.build]] is the only session builder in the library. The
  * session variables are each read once, here or in [[ExtraConf]].
  */
object Session {

  /** A main's role, with its SPARK_GRAFT_CPUS default (external bench
    * harnesses and the dev/ scripts rely on these defaults).
    */
  sealed abstract class Role(val cpusDefault: Int)
  object Role {
    case object Bench extends Role(32)
    case object Verify extends Role(4)
    case object Explain extends Role(4)
    case object ExplainFinal extends Role(32)
    case object StreamBench extends Role(32)
    case object StreamResume extends Role(8)
    /** The graft.cli mains; perfbench times this role. */
    case object Cli extends Role(Runtime.getRuntime.availableProcessors())
    val all: Seq[Role] =
      Seq(Bench, Verify, Explain, ExplainFinal, StreamBench, StreamResume, Cli)
  }

  /** One per-role difference from the common table, and why it exists. */
  final case class Difference(why: String, set: Map[String, String] = Map.empty,
                              drop: Set[String] = Set.empty) {
    def keys: Set[String] = set.keySet ++ drop
  }

  private val MB64 = (64L << 20).toString
  private val Master = "spark.master"
  private val Partitions = "spark.sql.shuffle.partitions"
  private val Broadcast = "spark.sql.autoBroadcastJoinThreshold"
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Codegen = "spark.sql.codegen.wholeStage"
  private val ParallelismFirst = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
  private val ShjThreshold = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** The role's local parallelism: SPARK_GRAFT_CPUS, else its default. */
  def cpus(role: Role, env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(role.cpusDefault)

  private def common(app: String, cpus: Int): Map[String, String] = Map(
    "spark.app.name" -> app, Master -> s"local[$cpus]", Partitions -> cpus.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions", // the one registration
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    Broadcast -> MB64,
    // AQE ON: the production configuration, and at bench scale also the
    // faster one (runtime coalescing saves more on the 0.5–2 s tail than
    // per-stage re-planning costs; 212.6 s static vs ~202 s adaptive at
    // sf0.1). AqeParitySpec pins result equality between the two modes.
    Aqe -> "true",
    // whole-stage codegen compiles a Janino class per query, a fixed
    // per-entry cost; measured faster in total even at sf0.1
    Codegen -> "true",
    // true (Spark default) caps AQE coalescing at defaultParallelism, so
    // tiny reduce stages still schedule up to cpus tasks; false respects
    // the advisory size (the Spark docs' production recommendation)
    ParallelismFirst -> "true",
    // AQE SMJ→SHJ rewrite (r18): a sort-merge join becomes shuffled-hash
    // at runtime when EVERY post-shuffle build partition is under this
    // size — decided from OBSERVED stage sizes, so the twilight-zone
    // relations (serialized rows 15-20× their stats) cannot mis-trigger
    // it, and at 100 TB big partitions simply stay SMJ. 64 MB = the
    // broadcast threshold's memory class; Spark's default is 0 (off).
    // It fires on q79/t24/t44 (plans/r18); hinted guard joins are left
    // alone. Static preferSortMergeJoin stays TRUE: flipping it plans
    // SHJ from size ESTIMATES, which the twilight-zone relations defeat.
    ShjThreshold -> MB64,
    // COUPLING (r18 ADVICE #3): Spark applies the rewrite only when the
    // advisory size <= the threshold, so [[seams]] pins the advisory to
    // min(threshold, 64 MB) from the same value; at the default this is
    // Spark's own default written back.
    Advisory -> MB64)

  /** The role's differences from the common table; every other key is
    * shared. Bench and Verify have none, so the oracle checks the same
    * physical plans the bench times (r18 ADVICE #4).
    */
  def differences(role: Role, env: Map[String, String] = sys.env,
                  props: collection.Map[String, String] = sys.props): Seq[Difference] =
    role match {
      case Role.Explain => Seq(Difference("a static plan-shape audit: no QueryStage " +
        "wrappers (SPARK_GRAFT_AQE=true audits the adaptive shapes)", set = Map(Aqe -> "false")))
      case Role.ExplainFinal => Seq(Difference("the twilight-guard drill must hold " +
        "under the production config with zero broadcast or SHJ overrides",
        drop = Set(Broadcast, ShjThreshold, Advisory)))
      case Role.StreamBench | Role.StreamResume => Seq(Difference(
        "the streaming state store", set = ExtraConf.stateStore(env)))
      case Role.Cli => Seq(
        Difference("the reference's workflow runs on Spark's join and AQE defaults",
          drop = Set(Broadcast, Aqe, Codegen, ParallelismFirst, ShjThreshold, Advisory)),
        if (props.contains(Master))
          Difference("spark-submit's master and partitions win", drop = Set(Master, Partitions))
        else Difference("a local run uses the whole machine", set = Map(Master -> "local[*]",
          Partitions -> Runtime.getRuntime.availableProcessors().toString)))
      case _ => Nil
    }

  /** The env seams. Each tunes a key the table carries; none adds a key
    * a role's difference dropped. SPARK_GRAFT_MASTER is the topology
    * seam (`local-cluster[2,4,4096]` runs real executor JVMs, which get
    * the graft classes from SPARK_GRAFT_JARS; dev/local_cluster_verify.sh).
    */
  private def seams(table: Map[String, String],
                    env: Map[String, String]): Map[String, String] = {
    val shj = env.get("SPARK_GRAFT_AQE_SHJ_THRESHOLD").toSeq
      // the Spark conf's own size grammar ("64m", "1g", bare bytes)
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .flatMap(t => Seq(ShjThreshold -> t.toString, Advisory -> math.min(t, 64L << 20).toString))
    (env.get("SPARK_GRAFT_MASTER").map(Master -> _) ++
      env.get("SPARK_GRAFT_AQE").map(Aqe -> _) ++
      env.get("SPARK_GRAFT_CODEGEN").map(Codegen -> _) ++
      env.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST").map(ParallelismFirst -> _) ++ shj)
      .filter { case (k, _) => table.contains(k) }.toMap ++
      env.get("SPARK_GRAFT_JARS").map("spark.jars" -> _)
  }

  /** The confs, master and app name included, of `role`'s session. */
  def spec(role: Role, app: String, env: Map[String, String] = sys.env,
           props: collection.Map[String, String] = sys.props): Map[String, String] = {
    val table = differences(role, env, props)
      .foldLeft(common(app, cpus(role, env)))((t, d) => t -- d.drop ++ d.set)
    table ++ seams(table, env) ++ ExtraConf(env)
  }

  /** Build (or get) `role`'s session and nothing else, so a caller can
    * time exactly this. `spark.*` JVM system properties still apply to
    * every key the table does not name.
    */
  def build(role: Role, app: String): SparkSession =
    spec(role, app).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
