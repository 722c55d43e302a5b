package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built, so the daily app, the
  * tools and the tests run on the same session shape.
  *
  *  - [[builder]] is the app path: only the semantic confs every graft
  *    session must carry (today the UTC session timezone). The master and
  *    everything else come from spark-submit, or from a session that
  *    already exists, whose other confs are left as they are.
  *  - [[local]] is the tool/test session: master `SPARK_GRAFT_MASTER`,
  *    else `local[cpus]`; `cpus` shuffle partitions; no UI; WARN logs.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")

  def local(appName: String, cpus: Int = GraftSession.cpus,
      confs: Map[String, Any] = Map.empty): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = builder(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config(executorConfs(master) ++ confs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Executor-JVM plumbing for `local-cluster[n,cores,memMB]` masters,
    * empty for anything else. That master spawns real executor JVMs
    * (Spark's own multi-JVM test mode), the only local way to push native
    * expressions, aggregators, broadcast codebooks and bucketed catalog
    * metadata across a process boundary. The child JVMs inherit neither
    * this JVM's classpath (the Spark jars come from `SPARK_HOME`, which
    * the worker launcher requires anyway) nor its JDK 17 `--add-opens`,
    * so both are handed on. No `-Dspark.*` in the executor opts: Spark
    * rejects them there, and session confs (timezone etc.) propagate via
    * SQLConf. */
  def executorConfs(master: String): Map[String, String] =
    if (!master.startsWith("local-cluster")) Map.empty
    else Map(
      "spark.executor.extraClassPath" -> sys.props.getOrElse("java.class.path", ""),
      "spark.executor.extraJavaOptions" -> jvmOpens.mkString(" "))

  /** This JVM's `--add-opens` flags; the JVM reports both the
    * `--add-opens x` and `--add-opens=x` spellings as the latter. */
  private def jvmOpens: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens="))
}
