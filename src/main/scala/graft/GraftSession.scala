package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** The one way this repo builds a SparkSession: every main and the test
  * session come through [[local]], so the knobs are set once at creation
  * (as the reference does for its context) and the Graft optimizer rules
  * and planner strategy come with the session instead of being installed
  * by whichever query happens to run first.
  *
  * A query touches no state of the session it is handed: what it needs
  * is set here, at creation, or on a [[child]]. */
object GraftSession {

  /** Local core count: SPARK_GRAFT_CPUS, else every available processor.
    * The only place that reads the variable. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` session with the Graft extensions, shuffle partitions =
    * cores, UTC, no UI and WARN logging. Parquet timestamp[ns] columns
    * read as raw nanos (`nanosAsLong`): the corpus has shipped events.ts
    * that way, Spark 4 reads it no other way, and `Tables.normTsCol`
    * turns it into micros in-plan. Shuffle and spill files go to
    * tmpfs when the host has /dev/shm — disk writeback stalls on /tmp
    * charged tens of seconds to whichever query shuffled at the wrong
    * moment — and otherwise to Spark's default, java.io.tmpdir. Spark's
    * own SPARK_LOCAL_DIRS overrides either (big corpora that spill more
    * than memory point it at disk). `conf` entries are applied last.
    * Every builder option is inherited by the session's `newSession()`
    * children. */
  def local(app: String, cores: Int = GraftSession.cores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (Files.isDirectory(Paths.get("/dev/shm")))
      b.config("spark.local.dir", "/dev/shm/graft_spark")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A child of `s` (`newSession()`: the same SparkContext, its own
    * confs, temp views and functions) with `confs` set: the session a
    * query builds on when it needs a conf, view or function that `s`
    * must not carry. A frame built on the child runs under its confs
    * wherever it is executed. */
  def child(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = s.newSession()
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
