package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract.
  *
  * ==Session state==
  * A query touches no state of the session it is handed, nor of the
  * SparkContext its sessions share: a conf, view or function it needs is
  * set when the session is built (`GraftSession.local`) or on a child
  * (`GraftSession.child`, `Tables.sqlSession`). `graft.Verify` runs
  * queries concurrently, one `newSession()` per worker, and a query's
  * plan must not depend on which query ran before it. RegistrySpec
  * checks every query and greps the sources.
  *
  * @param name    stable query name (key in SparkEntry.queries)
  * @param run     (session, sfDir) => result DataFrame. Results are
  *                deterministic: total-order sorted, engine-portable types
  *                (BIGINT/DOUBLE/STRING/TIMESTAMP), exact arithmetic where
  *                the DuckDB oracle must hash-match (see Relational.dec).
  * @param oracle  equivalent ANSI SQL for DuckDB over the same parquet
  *                tables; None => driver records a weaker rows-only check.
  * @param bench   include in the Bench main's headline sweep.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true)

/** Central inventory of every operator the engine exposes (SURVEY.md §2). */
object Registry {
  lazy val all: Seq[QueryDef] =
    operators.Relational.defs ++
      operators.Warehouse.defs ++
      operators.Analytics.defs ++
      operators.Numerics.defs ++
      operators.TextAnalysis.defs ++
      operators.Dedup.defs ++
      operators.Similarity.defs ++
      operators.Clustering.defs ++
      operators.Graph.defs ++
      operators.Multimodal.defs ++
      sources.Formats.defs ++
      streaming.StreamOps.defs

  lazy val byName: Map[String, QueryDef] = all.map(d => d.name -> d).toMap
}
