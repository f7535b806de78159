package graft

import graft.sources.DataGen

/** Reference-parity benchmark main (reference main.rs:34-54): generate or
  * discover the test_table parquet, load it hot into memory, then sweep
  * cancellation wait times 10..MAX_WAIT and print the markdown table the
  * reference's README publishes (README.md:72-124).
  *
  * Env knobs: GRAFT_DATA_DIR, GRAFT_NUM_FILES (7), GRAFT_ROWS_PER_FILE
  * (5,000,000 in the reference; smaller default here to keep local runs
  * in minutes), GRAFT_MAX_WAIT_MS (60), GRAFT_WAITS (comma-separated ms
  * list overriding the 10..MAX sweep — the memory-pressure run uses
  * second-scale waits so cancellation lands MID-SPILL, r9 task 8).
  */
object CancelBench {
  def main(args: Array[String]): Unit = {
    val dataDir = sys.env.getOrElse("GRAFT_DATA_DIR", "/tmp/graft_test_table")
    val numFiles = sys.env.getOrElse("GRAFT_NUM_FILES", "7").toInt
    val rowsPerFile = sys.env.getOrElse("GRAFT_ROWS_PER_FILE", "500000").toLong
    val maxWait = sys.env.getOrElse("GRAFT_MAX_WAIT_MS", "60").toLong

    // reference target_partitions=4 (main.rs:124-125); parquet filter
    // pushdown (main.rs:126) is Spark's default
    val spark = GraftSession.local("graft-cancel-bench", cores = 4)

    DataGen.findOrGenerate(spark, dataDir, numFiles, rowsPerFile)
    // The table is checkpointed once, eagerly, as rows in storage
    // memory (MEMORY_AND_DISK: what does not fit spills to local disk).
    // GRAFT_NO_PERSIST=1 — the memory-pressure sweep: under a starved
    // heap the stored table competes with the vectorized reader's batch
    // allocations and the aggregate's execution memory (observed with
    // the earlier MEMORY_ONLY cache: scan-side OOM at 2 GiB before any
    // cancel fired). A pressured production executor serves scans from
    // storage, so the pressure run reads straight from parquet — the
    // measured quantity (cancel-request → control-returned while the
    // aggregate spills) is unchanged.
    DataGen.loadTestTable(spark, dataDir,
      persist = !sys.env.contains("GRAFT_NO_PERSIST"))

    // untimed warm-up: the sweep's FIRST row otherwise pays whole-stage
    // codegen compilation + HotSpot tiering for the distinct plan and
    // reports JIT latency as cancellation latency (observed: first-row
    // max ~285 ms vs ~26 ms steady-state medians across three rounds).
    // Noop sink, not collect(): the sweep's collects are always
    // cancelled mid-flight, but a COMPLETED collect of the full
    // distinct (35M rows at reference scale) exceeds
    // spark.driver.maxResultSize — the warm-up only needs the
    // scan/aggregate codegen hot, not the result on the driver.
    DataGen.distinctQuery(spark).write.format("noop").mode("overwrite").save()

    val waitsOverride = sys.env.get("GRAFT_WAITS")
      .map(_.split(',').map(_.trim.toLong).toSeq)
    val results = Cancel.sweep(spark,
      waitsOverride.getOrElse(10L to maxWait),
      s => { DataGen.distinctQuery(s).collect(); () })
    println(Cancel.markdownTable(results))

    // Concurrent-cancellation isolation sweep (round-7 verdict task #7):
    // GRAFT_CONCURRENT_N > 0 runs N neighbor queries (own job tags) to
    // completion while a victim is cancelled mid-flight — the
    // multi-tenant property job-tag cancellation must provide. The
    // neighbors run the same distinct query ONCE (noop sink, not
    // collect: a completed 35M-row collect would blow maxResultSize at
    // reference scale, and the sink choice doesn't change what's
    // measured — task completion under a concurrent kill).
    val nOthers = sys.env.getOrElse("GRAFT_CONCURRENT_N", "0").toInt
    if (nOthers > 0) {
      val waits = Seq(10L, 20L, 30L, 40L, 50L, 60L)
      println(s"\n| Wait (ms) | Victim cancel (ms) | Neighbors ok | Neighbor walls (ms) |")
      println("| --- | --- | --- | --- |")
      waits.foreach { w =>
        val r = Cancel.runConcurrentCancel(spark, w,
          s => { DataGen.distinctQuery(s).collect(); () }, nOthers,
          neighbor =
            s => DataGen.distinctQuery(s).write.format("noop")
              .mode("overwrite").save())
        println(s"| $w | ${r.victim.cancelMs} " +
          s"| ${r.othersOk.count(identity)}/$nOthers " +
          s"| ${r.otherWallMs.mkString(" ")} |")
      }
    }
    spark.stop()
  }
}
