package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** The one way this repo builds a SparkSession: every main and the test
  * session come through [[local]], so the knobs are set once at creation
  * (as the reference does for its context) and the Graft optimizer rules
  * and planner strategy come with the session instead of being installed
  * by whichever query happens to run first. */
object GraftSession {

  /** Local core count: SPARK_GRAFT_CPUS, else every available processor.
    * The only place that reads the variable. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` session with the Graft extensions, shuffle partitions =
    * cores, UTC, no UI and WARN logging. Shuffle and spill files go to
    * tmpfs when the host has /dev/shm — disk writeback stalls on /tmp
    * charged tens of seconds to whichever query shuffled at the wrong
    * moment — and otherwise to Spark's default, java.io.tmpdir. Spark's
    * own SPARK_LOCAL_DIRS overrides either (big corpora that spill more
    * than memory point it at disk). `conf` entries are applied last. */
  def local(app: String, cores: Int = GraftSession.cores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (Files.isDirectory(Paths.get("/dev/shm")))
      b.config("spark.local.dir", "/dev/shm/graft_spark")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
