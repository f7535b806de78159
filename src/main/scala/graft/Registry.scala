package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract.
  *
  * ==Session-scoped-state contract (operator authors)==
  * `graft.Verify` runs operators CONCURRENTLY, each worker on its own
  * `spark.newSession()` over one shared `SparkContext`. An operator's
  * `run` may therefore touch only state scoped to the session it is
  * handed: temp views (`createOrReplaceTempView`), session `conf.set`,
  * session UDF registrations, catalog reads. It must NOT mutate
  * SparkContext-global state — `setCheckpointDir`, `hadoopConfiguration`,
  * `setJobGroup`/`setLocalProperty` on the shared context, GLOBAL temp
  * views, or session-builder `config` calls against the running
  * session — any of which would race across workers and corrupt the
  * correctness record non-deterministically. `Tables.materialize` (no
  * checkpoint dir) and per-operator `graft.jvmScratchDir` paths are fine.
  * RegistrySpec greps every operator source file for the forbidden
  * calls; add a justified exclusion there if a future operator
  * genuinely needs one (and then it must also force
  * SPARK_GRAFT_VERIFY_WORKERS=1).
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
