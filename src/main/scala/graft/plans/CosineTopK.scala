package graft.plans

import scala.collection.mutable.PriorityQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Custom whole-operator: per-partition bounded-heap top-k cosine
  * neighbors for a broadcast query set — the full Catalyst ladder
  * (LogicalPlan node → SparkStrategy → SparkPlan) for semantics the
  * built-in operators only express wastefully. The window formulation
  * (sim_topk_bruteforce) materializes |queries| x |candidates| rows and
  * shuffles + sorts them; this operator keeps k-bounded heaps per query
  * inside each scan partition and emits at most partitions x queries x k
  * rows — at 100 TB the difference between a full shuffle of the cross
  * product and a few kilobytes per partition.
  *
  * Numeric contract: the per-pair cosine loop is the same left-to-right
  * double accumulation as CosineSimilarity / the DuckDB oracle, so the
  * operator's results hash-match the brute-force oracle exactly.
  */
case class CosineTopK(
    queries: Seq[(Long, Array[Float])],
    k: Int,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  // output is a constructor parameter (NOT regenerated per instance):
  // tree transforms copy() the node, and fresh expression IDs would
  // orphan every upstream reference.
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)

  // the operator GENERATES these attributes (they don't come from the
  // child), otherwise the analyzer reports them as missing inputs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
}

object CosineTopK {
  def apply(queries: Seq[(Long, Array[Float])], k: Int,
      child: LogicalPlan): CosineTopK =
    CosineTopK(queries, k, Seq(
      AttributeReference("q_id", LongType, nullable = false)(),
      AttributeReference("vec_id", LongType, nullable = false)(),
      AttributeReference("cos", DoubleType, nullable = false)()), child)
}

/** Planner strategy: CosineTopK → CosineTopKExec. */
object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case node: CosineTopK =>
      CosineTopKExec(node.queries, node.k, node.output, planLater(node.child)) :: Nil
    case _ => Nil
  }
}

/** Physical operator. Child rows must be (vec_id: bigint,
  * embedding: array<float>) — guaranteed by CosineTopKOp's projection. */
case class CosineTopKExec(
    queries: Seq[(Long, Array[Float])],
    k: Int,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val qIds = queries.map(_._1).toArray
    val qVecs = queries.map(_._2).toArray
    val kk = k
    val schema = output
    child.execute().mapPartitions { iter =>
      val nq = qIds.length
      // self-dot of each query, once per partition
      val qNorms = qVecs.map { q =>
        var s = 0.0; var i = 0
        while (i < q.length) { val v = q(i).toDouble; s += v * v; i += 1 }
        s
      }
      // head of each heap = current WORST kept candidate
      val worstFirst: Ordering[(Double, Long)] = (a, b) => {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
      val heaps = Array.fill(nq)(PriorityQueue.empty[(Double, Long)](worstFirst))
      while (iter.hasNext) {
        val row = iter.next()
        // null id/embedding: CosineSimilarity (the brute-force path) is
        // null-safe and yields NULL, which the window filter then drops —
        // skipping the row here keeps the two paths bit-identical
        if (row.isNullAt(0) || row.isNullAt(1)) {
          // skip
        } else {
        val vecId = row.getLong(0)
        val emb = row.getArray(1)
        var qi = 0
        while (qi < nq) {
          if (vecId != qIds(qi)) {
            val q = qVecs(qi)
            val n = math.min(q.length, emb.numElements())
            var dot = 0.0; var nb = 0.0; var i = 0
            while (i < n) {
              val xv = q(i).toDouble
              val yv = emb.getFloat(i).toDouble
              dot += xv * yv; nb += yv * yv; i += 1
            }
            // CosineSimilarity truncates BOTH vectors to the common
            // length; the precomputed full-length query norm is only
            // valid when the candidate is at least as long as the query
            val qn =
              if (n == q.length) qNorms(qi)
              else {
                var s = 0.0; var j = 0
                while (j < n) { val v = q(j).toDouble; s += v * v; j += 1 }
                s
              }
            val cos = dot / math.sqrt(qn * nb)
            val h = heaps(qi)
            if (h.size < kk) h.enqueue((cos, vecId))
            else if (worstFirst.compare(h.head, (cos, vecId)) > 0) {
              h.dequeue(); h.enqueue((cos, vecId))
            }
          }
          qi += 1
        }
        }
      }
      val project = UnsafeProjection.create(schema.map(_.dataType).toArray)
      (0 until nq).iterator.flatMap { qi =>
        val h = heaps(qi)
        val items = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        while (h.nonEmpty) items += h.dequeue()
        items.iterator.map { t =>
          project(new GenericInternalRow(
            Array[Any](qIds(qi), t._2, t._1))).copy()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Public surface: run the operator, finishing the per-partition partials
  * with a cheap k-bounded window merge. The planner strategy comes with
  * the session (`graft.GraftSession` installs `GraftExtensions`). */
object CosineTopKOp {

  /** Queries ride in the serialized operator (driver memory + task
    * closure), so the query set must be small — that is the operator's
    * contract: few probes against an arbitrarily large candidate set.
    * Larger query sets should use the LSH/IVF paths instead. */
  val MaxQueries = 4096

  def topK(spark: SparkSession, candidates: DataFrame,
      queries: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    require(queries.nonEmpty, "CosineTopK: query set is empty")
    require(queries.size <= MaxQueries,
      s"CosineTopK: ${queries.size} queries exceeds MaxQueries=$MaxQueries " +
        "(queries are broadcast in the operator; use sim_ann_lsh/ivf for large query sets)")
    require(org.apache.spark.sql.GraftPlanBridge.strategies(spark)
        .contains(CosineTopKStrategy),
      "CosineTopK: this session cannot plan the operator; build it with " +
        "graft.GraftSession.local (or .withExtensions(new GraftExtensions))")
    val partial = org.apache.spark.sql.GraftPlanBridge.ofRows(
      spark, CosineTopK(queries, k, candidates.queryExecution.logical))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    partial
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
