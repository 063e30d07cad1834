package graft

import org.apache.spark.sql.SparkSession

/** The one session profile every main and the test suites run under, so
  * the plans Bench times are the plans Verify checks. It is the profile the
  * benchmark harness sets too: `local[N]` with N shuffle partitions, a UTC
  * session clock, no UI and [[graft.extensions.GraftExtensions]]; everything
  * else, AQE included, stays at the Spark default.
  *
  * N is `SPARK_GRAFT_CPUS`, or the JVM's available processors (`nproc`)
  * when that is unset. `SPARK_GRAFT_MASTER` replaces the master, e.g.
  * `local-cluster[2,8,8192]` for separate executor JVMs
  * (`dev/verify_cluster.sh`). */
object Session {

  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every conf the profile sets for N cores. */
  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def build(appName: String, cores: Int = defaultCores): SparkSession = {
    val b = confs(cores).foldLeft(
      SparkSession.builder().appName(appName)
        .withExtensions(new graft.extensions.GraftExtensions)) {
      case (acc, (k, v)) => acc.config(k, v)
    }
    sys.env.get("SPARK_GRAFT_MASTER").fold(b) { master =>
      // executors in their own JVMs load the program's classes from the
      // same place this JVM did
      b.master(master).config("spark.executor.extraClassPath",
        new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
          .getAbsolutePath)
    }.getOrCreate()
  }
}
