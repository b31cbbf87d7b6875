package graft


/** Dev main: dump `explain("formatted")` for the flagship operators into
  * PLANS.md — the physical-plan evidence (pushdown, pruning, broadcast,
  * partial aggregation, reused exchanges, runtime filters) the scaladocs
  * claim, captured from a real session.
  *
  *   sbt "runMain graft.Plans /root/testdata/sf0.01 PLANS.md"
  */
object Plans {

  // one representative per plan-shape family; order = reading order
  private val flagship = Seq(
    "agg_hash_group" -> "partial+final HashAggregate, scan-level pruning",
    "scan_pruned" -> "column pruning reaches the parquet ReadSchema",
    "filter_pred" -> "predicate pushdown (PushedFilters at the scan)",
    "join_broadcast" -> "star dims broadcast; fact never shuffles for them",
    "plan_topk_native" -> "custom two-phase TopKPerGroup operator",
    "join_dpp" -> "dynamic partition pruning on a partitioned layout",
    "llm_dedup_ngram_jaccard" -> "PPJoin prefix+positional-filter self-join over one shingle_set per doc",
    "llm_corpus_pipeline" -> "five pipeline stages fused into one DAG",
    "scan_fixed_width_dsv2" -> "DSv2 connector with pruned custom scan",
    "win_rank_topn" -> "WindowGroupLimit pushdown under the rank filter",
    "sql_recursive_cte" -> "UnionLoop recursion: per-step frontier equi-join",
    "scan_fixed_width_limit" -> "DSv2 limit pushdown: early-EOF reader bound",
    "sql_tpch_q3" -> "TPC-H Q3 text: pushed date filters + TakeOrderedAndProject",
    "llm_bpe_merge_step" -> "global top-k as TakeOrderedAndProject + broadcast rank join (no single-partition window)",
    "llm_interleave_sources" -> "global positions via bucket-offset ranks (no single-partition window)",
    "join_storage_partitioned" -> "key-grouped scans: aggregations + join with ONE exchange (presentation sort only)",
    "scan_fixed_width_agg" -> "DSv2 aggregate pushdown: one partial row per file crosses the source boundary",
    "scan_manifest_prune" -> "GVT zone-map pruning: the scan's file list is manifest-filtered BEFORE planning (one range tile of eight)",
    "scan_gvt_zorder" -> "GVT 2-D Morton box pruning + re-applied row filter over the pruned native parquet scan",
    "etl_gvt_diff" -> "GVT change feed: churned-files-only reads under two exceptAll branches",
    "scan_parquet_bloom" -> "parquet bloom point probe: pushed EqualTo reaches the scan; row-group skip happens inside the reader",
    "etl_incremental_agg" -> "partial-state merge: two grouped states unioned and re-aggregated, no history rescan",
    "plan_mv_rewrite" -> "materialized-view auto-rewrite: the rollup aggregate reads the summary table, the fact is never scanned",
    "etl_gvt_dv_delete" -> "deletion-vector read: broadcast anti-join on (file, row_index) over the native scan; vector-free tables keep the plain scan",
    "stream_static_join" -> "stream-static enrichment: dimension broadcast, event side never shuffles for the join",
    "plan_mv_rewrite_filtered" -> "MV rewrite with a grouping-column filter re-applied onto the view scan (fact untouched)",
    "etl_gvt_mv_refresh" -> "GVT-backed incremental MV: the read is a plain scan of the versioned summary",
    "plan_mv_select" -> "cost-based MV selection: the rewrite routes to the cheapest qualifying view by actual stats bytes",
    "sql_tpch_q20x" -> "cohort-scalar scan dedup: the HAVING aggregate and the AVG scalar share ONE fact scan (RewriteCohortScalar re-roots the subquery on the grouped aggregate)",
    "etl_gvt_wap" -> "write-audit-publish: the post-publish read is a plain snapshot scan — the squash moved metadata only",
    "etl_gvt_cdc_upd" -> "CDC update images: churned-file reads under exceptAll, ONE key-window pass relabels paired churn into pre/post images",
    "llm_ann_pq" -> "PQ/ADC ANN: broadcast codebook argmax, broadcast ADC lookup-join, top-50 shortlist, exact re-rank of 50 vectors",
    "llm_knn_join_ivfpq" -> "IVFPQ batch retrieval: broadcast cells + codebooks + per-query ADC tables; candidate-bounded int exchanges; ≤20-vector re-rank per query",
    "scan_gvt_dsv2" -> "gvt DSv2 connector: WHERE-driven manifest zone-map prune inside the FileIndex, PushedFilters on the stock vectorized parquet scan",
    "llm_knn_join_ivfpq_scaled" -> "the composed production stack: IVFPQ on the data-derived k=N/600 codebook (codebook size from a broadcast 1-row count, same exchange profile as the pinned key)",
    "llm_dedup_paragraph" -> "sub-document dedup: 16-byte digest keys every exchange; winner election is ONE chunk-keyed aggregate (no corpus window)",
    "etl_gvt_txn_multi" -> "cross-table txn view: both reads are plain snapshot scans at doc-pinned versions — the coordinator adds zero data plan",
    "scan_gvt_colmap" -> "column mapping: physical vectorized scan with an alias-only projection to the version's logical names; schema commits moved no data",
    "etl_gvt_constraints" -> "constrained WAP publish: the post-publish read is a plain snapshot scan; checks ran inside the branch writes, the gate read only the net adds",
    "scan_gvt_prune_ts" -> "timestamp zone-map prune through the connector: CHRONO stat comparison keeps 2-of-7 year tiles; the row filter still rides the vectorized scan",
    "scan_gvt_dsv2_dv" -> "connector MoR read: GvtScan over the stock parquet scan + row-index column; DV rows die at the reader (broadcast sorted-position search) — the plan's only exchange is the key's own orderBy",
    "scan_gvt_dsv2_colmap" -> "connector mapped read: the stock physical scan re-faced with logical names — rows are positional, the alias is free; filters pushed under physical names",
    "sink_gvt_dsv2" -> "SQL-written table read back through the catalog: plain snapshot scan of clustered+statted files — the write path left the same layout the API leaves",
    "etl_gvt_txn_wap" -> "cross-table WAP view: both sides are snapshot scans at versions one coordinator doc pinned; branch squashes moved metadata only",
    "etl_gvt_sql_update" -> "SQL UPDATE read-back: the CoW commits already landed — the read is a plain clustered snapshot scan, the DML left no plan residue",
    "etl_gvt_sql_merge" -> "SQL MERGE read-back: plain snapshot scan of the upserted state — RewriteGvtDml lowered the command, the scan is stock",
    "scan_gvt_dsv2_dvf" -> "connector MoR read, PER-TASK fetch regime: same stock scan + row-index plan as the broadcast twin — the regime differs only inside the reader (sidecar slice fetch vs broadcast lookup)",
    "etl_gvt_txn_serial" -> "serialized-txn view: fact and summary are plain snapshot scans at one doc's pins — serialization is coordinator-side, zero data-plan cost")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Sessions.local("4", "ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans of flagship operators\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir` " +
      "(local[4]; shapes are what matter, partition counts are local).\n")
    flagship.foreach { case (key, why) =>
      val df = SparkEntry.queries(key)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $key — $why\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      sb.toString)
    println(s"[plans] wrote ${flagship.size} plans to $out")
    spark.stop()
  }
}
