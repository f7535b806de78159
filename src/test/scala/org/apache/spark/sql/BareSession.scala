package org.apache.spark.sql

/** A session on a running context built without any extensions, for
  * asserting how an operator fails when GraftExtensions are missing. */
object BareSession {
  /** Shares the parent's SharedState (catalog, SQL status listener), so
    * only the extensions differ. The constructor taking an existing
    * SharedState is Scala-private, hence the reflective call. */
  def of(s: SparkSession): SparkSession = {
    val parent = s.asInstanceOf[classic.SparkSession]
    classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(parent.sparkContext, Some(parent.sharedState), None,
        new SparkSessionExtensions, Map.empty[String, String],
        Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
