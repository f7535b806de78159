package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", cores = 4,
    // static conf: catalog tables (BucketingSpec) land in /tmp, not the repo
    conf = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))

  val sf: String = "/root/testdata/sf0.001"
}
