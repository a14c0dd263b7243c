package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftFunctions

/** One place to build a correctly-configured session: AQE on (skew join
  * splitting is load-bearing for mega-polygon covers, SURVEY.md §2.2 E8),
  * shuffle partitions sized to the core count (never the 200 default),
  * UTC, `file://` through [[graft.sources.LocalFs]] (no forked `chmod`
  * per written file), and the graft function registry installed.
  */
object GraftSession {

  /** In local mode the master string `local[N]` hard-codes
    * spark.task.maxFailures = 1 (SparkContext.createTaskScheduler uses
    * MAX_LOCAL_TASK_FAILURES for that form and ignores the conf), so ONE
    * transient task failure aborts the whole job — the round-3 driver
    * bench died exactly this way (a single FileFormatWriter task abort on
    * a co-tenant interference window zeroed the round's evidence). The
    * `local[N,F]` form is the only way to get retries locally; rewrite
    * plain `local[N]` masters to it. Explicit masters pass through.
    */
  private val LocalN = """local\[(\d+)\]""".r
  private[graft] def withTaskRetries(master: String): String = master match {
    case LocalN(n) => s"local[$n,4]"
    case other => other
  }

  def create(master: String, shufflePartitions: Int, appName: String = "graft"): SparkSession = {
    val spark = configure(SparkSession.builder().master(withTaskRetries(master)),
      shufflePartitions, appName)
      // only meaningful pre-JVM in local mode via sbt's forked -Xmx (see
      // build.sbt); harmless echo here so the conf page tells the truth
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    finish(spark)
  }

  /** Session for a jar launched by spark-submit: the master, driver and
    * executor resources come from the submit arguments (the north rule's
    * literal shape — `spark-submit` against a multi-executor cluster), so
    * setting them here would silently override the cluster topology under
    * measurement. Everything else (AQE, skew join, shuffle partitions
    * sized to the data, UTC, function registry) matches [[create]] so the
    * cluster campaign measures the same engine configuration as the
    * local[N] one.
    */
  def createForSubmit(shufflePartitions: Int, appName: String = "graft"): SparkSession =
    finish(configure(SparkSession.builder(), shufflePartitions, appName).getOrCreate())

  private def configure(b: SparkSession.Builder, shufflePartitions: Int,
                        appName: String): SparkSession.Builder =
    b.appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE always on: skew-join splitting is part of the scale story
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // file:// through LocalFs: the stock LocalFileSystem's checksums and
      // permission bits, with no forked chmod per file and directory
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.LocalFs].getName)
      // shuffle/spill files on tmpfs: in local mode all executor threads
      // share ONE disk, and shuffle-heavy ops anti-scale past ~8 threads
      // (measured: kNN 84s@8 -> 117s@32 on /tmp). A real cluster spreads
      // shuffle over many NVMe drives; tmpfs is the local stand-in.
      .config("spark.local.dir",
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
          "/dev/shm/graft-spark-local" else System.getProperty("java.io.tmpdir"))

  private def finish(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** Register graft functions on a session someone else built. */
  def install(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    spark
  }
}
