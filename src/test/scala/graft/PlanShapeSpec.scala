package graft

/** Plan-shape properties the scale story rests on, read off the physical
  * plans of the sf0.001 queries: pruning and pushdown into persisted
  * stores, broadcast build sides, narrow passes with no exchange, and a
  * fixpoint whose plan does not grow with its round count. */
class PlanShapeSpec extends SparkSpec {

  private def plan(query: String): String =
    SparkEntry.queries(query)(spark, sf0001).queryExecution.executedPlan.toString

  test("default value_percentiles plans no Window") {
    // the exact rank form funnels the table through one sort partition
    // per group, the documented scale-killer; the approx sketch must not
    assert(!plan("value_percentiles").contains("Window"))
  }

  test("bm25_downfold_probe prunes _kb partitions and pushes the doc_id In-filter") {
    // a bounded takedown batch's bucket set becomes PartitionFilters on the
    // forward store's _kb column (directories never listed into the scan),
    // with the id In-filter pushed into the surviving files. Literal In
    // lists print as INSET once past the In→InSet threshold
    val lines = plan("bm25_downfold_probe").linesIterator.toSeq
    assert(lines.exists(l => l.contains("PartitionFilters: [") && l.contains("_kb") &&
      (l.contains("INSET") || l.contains(" IN "))), lines.mkString("\n"))
    assert(lines.exists(l => l.contains("doc_id") &&
      (l.contains("PushedFilters: [In(doc_id") ||
        l.contains("DataFilters: [doc_id") && l.contains("INSET"))), lines.mkString("\n"))
  }

  test("contamination_delivery broadcasts the eval index and pushes the delivery bound") {
    // nothing in the timed plan is corpus-sized: the fixed eval index is
    // the broadcast build side, the delivery bounds prune the documents scan
    val p = plan("contamination_delivery")
    assert(p.contains("BroadcastHashJoin"), p)
    val lo = graft.queries.PipelineQueries.ContamDeliveryLo
    assert(p.linesIterator.exists(l => l.contains("PushedFilters: [") &&
      l.contains(s"GreaterThanOrEqual(doc_id,$lo)")), p)
  }

  test("pq_topk_ivf prunes the codes store to the probed cells") {
    val p = plan("pq_topk_ivf")
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters: [") &&
      l.contains("cell") && (l.contains("INSET") || l.contains(" IN "))), p)
  }

  test("PQ encode, secret scan and rate sampling plan no Exchange") {
    // PQ encode has its codebook as plan literals; the secret scanner's
    // streaming deployment plans the same stateless query; rate-mode
    // sampling is a per-row filter
    val rateSample = graft.ops.SamplingOps.hashRateSample(
        graft.sources.Tables.documents(spark, sf0001),
        "concat(CAST(doc_id AS STRING), '|', md5(text))", "0.1")
      .queryExecution.executedPlan.toString
    for ((name, p) <- Seq("pq_codes" -> plan("pq_codes"),
        "secret_scan" -> plan("secret_scan"), "hashRateSample" -> rateSample))
      assert(!p.contains("Exchange"), s"$name:\n$p")
  }

  test("pagerankFixed plans the same size at 3 and 9 rounds") {
    // each round is checkpointed; before that the final plan replayed
    // every earlier round's lineage. localMaxEdges = 0 forces the
    // distributed rounds: the small-graph local path is a single
    // LocalRelation and would pass vacuously
    val edges = spark.range(0, 200).selectExpr("id AS src", "(id * 7 + 1) % 200 AS dst")
    def planLines(iters: Int): Int =
      graft.ops.ClusterOps.pagerankFixed(edges, iters, localMaxEdges = 0)
        .queryExecution.executedPlan.toString.linesIterator.size
    assert(planLines(3) == planLines(9))
  }
}
