package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Cross-engine determinism rules used by every query/oracle pair:
  *  - integer outputs are BIGINT on both sides (DuckDB defaults);
  *  - double aggregations go through DECIMAL(18,s) per-row casts so
  *    the sum is exact/order-independent, then cast back to DOUBLE;
  *  - event timestamps surface as epoch milliseconds (BIGINT): the
  *    events table is ns-precision parquet which Spark reads at us
  *    precision — ms floors identically from both;
  *  - every query and oracle carries a total ORDER BY.
  */
object SparkEntry {
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** Shared SCD2 fixture: synthetic closed+current history over
    * customer, upserted at t=100 — the frame both the merge gate
    * (q_merge_scd2) and the time-travel gate (q_scd2_asof) read. */
  private def scd2Merged(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"),
      col("c_acctbal"))
    val closed = cust.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 50.0).as("bal"),
        lit(0L).as("valid_from"), lit(50L).as("valid_to"))
    val current = cust.select(col("c_custkey"),
      col("c_acctbal").as("bal"),
      when(col("c_custkey") % 4 === 0, 50L).otherwise(0L)
        .as("valid_from"),
      lit(null).cast("long").as("valid_to"))
    val base = closed.unionByName(current)
    val updates = cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 6 === 0, col("c_acctbal"))
          .otherwise(col("c_acctbal") + 100.0).as("bal"))
      .unionByName(cust.filter(col("c_custkey") % 10 === 0)
        .select((col("c_custkey") + 100000000L).as("c_custkey"),
          col("c_acctbal").as("bal")))
    MergeOps.scd2Upsert(base, updates, "c_custkey", "bal", 100L)
  }
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  private def md5hex(sIn: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sIn.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  /** The frozen per-dataset index contract of the *_admit_indexed
    * keys: the index is a prior artifact, built once per SF dir, not
    * per-run work (the q_incremental_topk state convention). `idx` is
    * a STABLE name per dataset dir (md5 of the source file's
    * canonical path — survives regeneration, one index dir per SF
    * tier, bounded growth); a _FINGERPRINT file carries the content
    * key, an md5 of the source FILE (path + size + mtime), so a
    * regenerated corpus mismatches it and `write` rebuilds IN PLACE.
    * The `_COMPLETE` marker is deleted before and written only AFTER
    * `write` and the fingerprint succeed, so a crash mid-write never
    * leaves a half-index that passes the check (the writers
    * overwrite, so a rebuild over a torn index is safe). */
  private def frozenIndex(src: java.io.File, idx: String)
                         (write: => Unit): Unit = {
    val fp = md5hex(src.getCanonicalPath + ":" + src.length +
      ":" + src.lastModified)
    val marker = new java.io.File(idx, "_COMPLETE")
    val fpFile = new java.io.File(idx, "_FINGERPRINT")
    val storedFp =
      if (fpFile.exists())
        Some(new String(java.nio.file.Files.readAllBytes(
          fpFile.toPath), "UTF-8").trim)
      else None
    if (!marker.exists() || !storedFp.contains(fp)) {
      if (marker.exists()) marker.delete()
      write
      java.nio.file.Files.write(fpFile.toPath, fp.getBytes("UTF-8"))
      marker.createNewFile()
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 reactive transformation / filtering ----
    "rx_map" -> ((s, d) => Reactive.rxMap(ev(s, d)).orderBy("event_id")),
    "rx_filter" -> ((s, d) => Reactive.rxFilter(ev(s, d)).orderBy("event_id")),
    "rx_flatmap" -> ((s, d) =>
      Reactive.rxFlatMap(ev(s, d)).orderBy("event_id", "rep")),
    "rx_scan" -> ((s, d) =>
      Reactive.rxScan(ev(s, d))
        .withColumn("running_value", col("running_value").cast("double"))
        .orderBy("event_id")),
    "rx_distinct" -> ((s, d) =>
      Reactive.rxDistinct(ev(s, d)).orderBy("user_id", "event_type")),
    "rx_distinct_until_changed" -> ((s, d) =>
      Reactive.rxDistinctUntilChanged(ev(s, d)).orderBy("event_id")),
    "rx_islands" -> ((s, d) =>
      Reactive.rxIslands(ev(s, d)).orderBy("user_id", "island_id")),
    "rx_take" -> ((s, d) =>
      Reactive.rxTake(ev(s, d)).withColumn("rn", col("rn").cast("long"))
        .orderBy("event_id")),
    "rx_skip" -> ((s, d) =>
      Reactive.rxSkip(ev(s, d)).withColumn("rn", col("rn").cast("long"))
        .orderBy("event_id")),
    "rx_take_while" -> ((s, d) =>
      Reactive.rxTakeWhile(ev(s, d)).orderBy("event_id")),
    "rx_first_last" -> ((s, d) =>
      Reactive.rxFirstLast(ev(s, d)).orderBy("user_id")),
    "rx_pairwise" -> ((s, d) =>
      Reactive.rxPairwise(ev(s, d)).orderBy("event_id")),
    "rx_start_with" -> ((s, d) =>
      Reactive.rxStartWith(ev(s, d)).orderBy("user_id", "event_id")),
    "rx_default_if_empty" -> ((s, d) =>
      Reactive.rxDefaultIfEmpty(ev(s, d)).orderBy("user_id", "event_id")),
    // ---- §2.2 reactive combination ----
    "rx_merge" -> ((s, d) => Reactive.rxMerge(ev(s, d)).orderBy("event_id")),
    "rx_concat" -> ((s, d) =>
      Reactive.rxConcat(ev(s, d)).orderBy("src_order", "event_id")),
    "rx_zip" -> ((s, d) =>
      Reactive.rxZip(ev(s, d)).withColumn("idx", col("idx").cast("long"))
        .orderBy("user_id", "idx")),
    "rx_with_latest_from" -> ((s, d) =>
      Reactive.rxWithLatestFrom(ev(s, d)).orderBy("event_id")),
    "rx_combine_latest" -> ((s, d) =>
      Reactive.rxCombineLatest(ev(s, d)).orderBy("event_id")),
    "rx_amb" -> ((s, d) => Reactive.rxAmb(ev(s, d)).orderBy("event_id")),
    "rx_switch_map" -> ((s, d) =>
      Reactive.rxSwitchMap(ev(s, d)).orderBy("event_id")),
    // ---- §2.3 reactive time-based ----
    "rx_buffer_count" -> ((s, d) =>
      Reactive.rxBufferCount(ev(s, d))
        .withColumn("batch_sum", col("batch_sum").cast("double"))
        .orderBy("user_id", "batch_id")),
    "rx_sliding_count_window" -> ((s, d) =>
      Reactive.rxSlidingCountWindow(ev(s, d))
        .withColumn("window_sum", col("window_sum").cast("double"))
        .orderBy("event_id")),
    "rx_sliding_time_window" -> ((s, d) =>
      Reactive.rxSlidingTimeWindow(ev(s, d))
        .withColumn("window_sum", col("window_sum").cast("double"))
        .orderBy("event_id")),
    "rx_buffer_count_skip" -> ((s, d) =>
      Reactive.rxBufferCountSkip(ev(s, d))
        .withColumn("batch_sum", col("batch_sum").cast("double"))
        .orderBy("user_id", "batch_id")),
    "rx_window_tumbling" -> ((s, d) =>
      Reactive.rxWindowTumbling(ev(s, d))
        .withColumn("win_sum", col("win_sum").cast("double"))
        .orderBy("win_start_ms", "event_type")),
    "rx_window_sliding" -> ((s, d) =>
      Reactive.rxWindowSliding(ev(s, d))
        .withColumn("win_sum", col("win_sum").cast("double"))
        .orderBy("win_start_ms")),
    "rx_window_session" -> ((s, d) =>
      Reactive.rxWindowSession(ev(s, d))
        .withColumn("sess_sum", col("sess_sum").cast("double"))
        .orderBy("user_id", "sess_start_ms")),
    "rx_debounce" -> ((s, d) =>
      Reactive.rxDebounce(ev(s, d)).orderBy("event_id")),
    "rx_throttle_first" -> ((s, d) =>
      Reactive.rxThrottleFirst(ev(s, d)).orderBy("event_id")),
    "rx_sample" -> ((s, d) => Reactive.rxSample(ev(s, d)).orderBy("event_id")),
    "rx_delay" -> ((s, d) => Reactive.rxDelay(ev(s, d)).orderBy("event_id")),
    "rx_time_interval" -> ((s, d) =>
      Reactive.rxTimeInterval(ev(s, d)).orderBy("event_id")),
    "rx_timeout" -> ((s, d) => Reactive.rxTimeout(ev(s, d)).orderBy("event_id")),
    // ---- §2.4 reactive aggregation / error handling ----
    "rx_reduce" -> ((s, d) =>
      Reactive.rxReduce(ev(s, d)).withColumn("total", col("total").cast("double"))
        .orderBy("event_type")),
    "rx_agg_suite" -> ((s, d) =>
      Reactive.rxAggSuite(ev(s, d)).withColumn("total", col("total").cast("double"))
        .orderBy("user_id")),
    "rx_group_by" -> ((s, d) =>
      Reactive.rxGroupBy(ev(s, d)).withColumn("total", col("total").cast("double"))
        .orderBy("event_type")),
    "rx_take_last" -> ((s, d) =>
      Reactive.rxTakeLast(ev(s, d)).orderBy("event_id")),
    "rx_skip_last" -> ((s, d) =>
      Reactive.rxSkipLast(ev(s, d)).orderBy("event_id")),
    "rx_all_any" -> ((s, d) =>
      Reactive.rxAllAny(ev(s, d)).orderBy("user_id")),
    "rx_buffer_time" -> ((s, d) =>
      Reactive.rxBufferTime(ev(s, d))
        .withColumn("buf_sum", col("buf_sum").cast("double"))
        .orderBy("user_id", "bucket_ms")),
    "rx_repeat" -> ((s, d) =>
      Reactive.rxRepeat(ev(s, d)).orderBy("iteration", "event_id")),
    "rx_retry" -> ((s, d) => Reactive.rxRetry(ev(s, d)).orderBy("event_id")),
    "rx_retry_when" -> ((s, d) =>
      Reactive.rxRetryWhen(ev(s, d)).orderBy("event_id")),
    "rx_window_count_skip" -> ((s, d) =>
      Reactive.rxWindowCountSkip(ev(s, d))
        .orderBy("user_id", "window_id", "pos_in_window")),
    "rx_sequence_equal" -> ((s, d) =>
      Reactive.rxSequenceEqual(ev(s, d)).orderBy("user_id")),
    "rx_interval_join" -> ((s, d) =>
      Reactive.rxIntervalJoin(ev(s, d))
        .orderBy("purchase_event_id", "click_event_id")),
    "rx_window_boundary" -> ((s, d) =>
      Reactive.rxWindowBoundary(ev(s, d))
        .withColumn("win_sum", col("win_sum").cast("double"))
        .orderBy("user_id", "window_id")),
    "rx_group_join" -> ((s, d) =>
      Reactive.rxGroupJoin(ev(s, d)).orderBy("purchase_event_id")),
    "asof_join" -> ((s, d) =>
      AsOf.purchasesWithLatestClick(ev(s, d)).orderBy("event_id")),
    "rx_on_error_resume" -> ((s, d) =>
      Reactive.rxOnErrorResume(ev(s, d))
        .orderBy("user_id", "event_id", "event_type")),
    "rx_on_error_return" -> ((s, d) =>
      Reactive.rxOnErrorReturn(ev(s, d)).orderBy("event_id")),
    "rx_materialize" -> ((s, d) =>
      Reactive.rxMaterialize(ev(s, d)).orderBy("user_id", "event_id", "kind")),
    // ---- §2.5 relational / OLAP ----
    "q1_pricing_summary" -> ((s, d) =>
      Relational.q1PricingSummary(s, d)
        .withColumn("sum_qty", col("sum_qty").cast("double"))
        .withColumn("sum_base_price", col("sum_base_price").cast("double"))
        // string-routed: once a decimal's unscaled value exceeds 2^53
        // (scale 6 sums pass that at ~9e9), JVM BigDecimal.doubleValue
        // double-rounds (int->double, then /10^scale) and can land one
        // ulp off the true nearest double; parseDouble/strtod of the
        // decimal STRING is correctly rounded in both engines
        .withColumn("sum_disc_price",
          col("sum_disc_price").cast("string").cast("double"))
        .withColumn("sum_charge",
          col("sum_charge").cast("string").cast("double"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q6_revenue" -> ((s, d) =>
      Relational.q6Revenue(s, d)
        .withColumn("revenue", col("revenue").cast("double"))),
    "q3_shipping_priority" -> ((s, d) =>
      Relational.q3ShippingPriority(s, d)
        .withColumn("revenue", col("revenue").cast("double"))),
    "q5_local_supplier" -> ((s, d) =>
      Relational.q5LocalSupplier(s, d)
        .withColumn("revenue", col("revenue").cast("double"))
        .orderBy(col("revenue").desc, col("n_name"))),
    "q_semi_anti" -> ((s, d) =>
      Relational.qSemiAnti(s, d).orderBy("c_custkey")),
    "q_topk_per_group" -> ((s, d) =>
      Relational.qTopkPerGroup(s, d).withColumn("rn", col("rn").cast("long"))
        .orderBy("p_brand", "rn")),
    "q_rollup" -> ((s, d) =>
      Relational.qRollup(s, d).withColumn("sum_qty", col("sum_qty").cast("double"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_cube" -> ((s, d) =>
      Relational.qCube(s, d)
        .withColumn("sum_price", col("sum_price").cast("double"))
        .orderBy("o_orderstatus", "o_orderpriority")),
    "q_groupwise_max" -> ((s, d) =>
      Relational.qGroupwiseMax(s, d).orderBy("s_nationkey")),
    "q_percentiles" -> ((s, d) =>
      Relational.qPercentiles(s, d).orderBy("l_returnflag")),
    "q4_late_orders" -> ((s, d) =>
      Relational.q4LateOrders(s, d).orderBy("o_orderpriority")),
    "dq_check" -> ((s, d) =>
      Relational.dqCheck(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d)).orderBy("check_name")),
    "dq_benford" -> ((s, d) =>
      Relational.benfordAudit(Tables.lineitem(s, d)).orderBy("digit")),
    "dq_orphans" -> ((s, d) =>
      Relational.dqOrphans(s, d).orderBy("relationship")),
    "dq_fd_check" -> ((s, d) =>
      Relational.dqFdCheck(s, d).orderBy("fd")),
    "q_null_aware_anti" -> ((s, d) =>
      Relational.qNullAwareAnti(s, d).orderBy("c_mktsegment")),
    "q_band_join" -> ((s, d) =>
      Relational.qBandJoin(s, d).orderBy("nation")),
    // partition-pruned band admission over a frozen per-SF index
    // ([[frozenIndex]]):
    // peers = suppkey % 10 != 0, wave = the rest; the index dirs are
    // 64-band blocks and the probe reads only the wave's blocks
    "q_band_admit_indexed" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select(
        col("s_suppkey").cast("long").as("id"),
        col("s_nationkey").cast("long").as("nation"),
        (col("s_acctbal")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("bal"))
      val peers = sup.filter(col("id") % 10 =!= 0)
      val wave = sup.filter(col("id") % 10 === 0)
      val srcFile = new java.io.File(d, "supplier.parquet")
      val idx = s"/root/repo/target/band_gate_idx_p" +
        md5hex(srcFile.getCanonicalPath)
      frozenIndex(srcFile, idx)(Relational.bandWriteIndex(peers, idx))
      Relational.bandAdmitIndexed(s, idx, wave).orderBy("id")
    }),
    // result is already the deterministic top-k; tail re-sort only
    "graph_resource_alloc" -> ((s, d) =>
      Graph.resourceAllocation(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy(col("ra_ppm").desc, col("cust1"), col("cust2"))),
    "graph_adamic_adar" -> ((s, d) =>
      Graph.adamicAdar(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy(col("aa_ppm").desc, col("cust1"), col("cust2"))),
    "graph_pref_attachment" -> ((s, d) =>
      Graph.prefAttachment(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy(col("pa").desc, col("cust1"), col("cust2"))),
    "graph_pagerank" -> ((s, d) =>
      Graph.pageRankTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))
        .orderBy(col("rank_scaled").desc, col("n_name"))),
    "graph_local_clustering" -> ((s, d) =>
      Graph.localClustering(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d))
        .orderBy("node")),
    "q7_volume_shipping" -> ((s, d) =>
      Relational.q7VolumeShipping(s, d)
        .withColumn("revenue", col("revenue").cast("double"))
        .orderBy("supp_nation", "cust_nation", "l_year")),
    "q8_market_share" -> ((s, d) =>
      Relational.q8MarketShare(s, d).orderBy("o_year")),
    "q9_profit" -> ((s, d) =>
      Relational.q9Profit(s, d)
        .withColumn("sum_profit", col("sum_profit").cast("double"))
        .orderBy("n_name", "o_year")),
    "q10_returned_items" -> ((s, d) =>
      Relational.q10ReturnedItems(s, d)
        .withColumn("revenue", col("revenue").cast("double"))),
    "q12_priority_share" -> ((s, d) =>
      Relational.q12PriorityShare(s, d).orderBy("l_linestatus")),
    "q14_promo" -> ((s, d) => Relational.q14PromoRevenue(s, d)),
    "q18_large_orders" -> ((s, d) => Relational.q18LargeOrders(s, d)),
    "q19_disjunctive" -> ((s, d) => Relational.q19Disjunctive(s, d)),
    "q13_order_distribution" -> ((s, d) =>
      Relational.q13OrderDistribution(s, d).orderBy("c_count")),
    "q15_top_supplier" -> ((s, d) =>
      Relational.q15TopSupplier(s, d).orderBy("s_suppkey")),
    "q16_supplier_counts" -> ((s, d) =>
      Relational.q16SupplierCounts(s, d)
        .orderBy("p_brand", "p_type", "p_size")),
    "q17_small_quantity" -> ((s, d) => Relational.q17SmallQuantity(s, d)),
    "q22_idle_customers" -> ((s, d) =>
      Relational.q22IdleCustomers(s, d).orderBy("c_nationkey")),
    // same semantics as q_topk_per_group, via the custom heap-based
    // physical operator (graft.plans.TopKPerGroupExec)
    "q_topk_custom" -> ((s, d) => {
      // pre-project: a custom logical node sits outside Catalyst's
      // column pruning, so trim the scan explicitly
      val p = Tables.part(s, d).select("p_brand", "p_partkey", "p_retailprice")
      graft.plans.TopK.topKPerGroup(p, Seq(col("p_brand")),
          struct(negate(col("p_retailprice")), col("p_partkey")), 3,
          ascending = true)
        .select("p_brand", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    }),
    // ---- §2.6 dedup ----
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d)).orderBy("content_hash")),
    // the LSH-family gated queries run the AUDITABLE (md5) hash
    // family: DuckDB re-derives the buckets/signatures exactly, so
    // these are hash-exact oracle rows, not rows-only (the xxhash64
    // throughput family keeps its exact ScalaTest twins)
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshShared(docs(s, d), auditable = true)
        .orderBy("doc1", "doc2")),
    // maxHamming=3: the largest radius at which chunked simhash
    // keeps sub-quadratic candidate selectivity (see Dedup.simhash)
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhash(docs(s, d), maxHamming = 3, auditable = true)
        .orderBy("doc1", "doc2")),
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDup(embs(s, d), planes = 6, minCosine = 0.25,
        auditable = true).orderBy("id1", "id2")),
    // sorted-neighborhood blocking (rank adjacency, hash-free):
    // fully SQL-replicable, so the gate is exact end to end
    "dedup_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhood(docs(s, d)).orderBy("doc1", "doc2")),
    // the production admission shape: UNION the pair families
    // (hash-feature LSH + signature simhash + sort-order SNM — each
    // catches edits the others miss) and cluster the union; all
    // three families run their auditable/SQL-replicable form so the
    // composite stays hash-exact end to end
    "dedup_union_cluster" -> ((s, d) => {
      val dd = docs(s, d)
      // Share only the 8-byte simhash signature across families
      // (tiny cache, saves simhash's tokenize scan). Materializing
      // the full shingle frame measured 2x WORSE at sf10 (143 s vs
      // 70 s recompute-everything vs 67 s this form): building the
      // columnar cache of per-doc shingle-string arrays costs more
      // than the tokenize scans it saves, while the signature cache
      // is ~16 bytes/doc — thousands of times smaller than the
      // corpus it spares a read of. The *From entries remain the
      // path for consumers with a persisted feature store.
      // r8 re-profile of the remaining 66.7 s: the three families
      // cost ~29 s combined — the other ~33 s was connectedComponents
      // paying per-round job latency on a 168 k-pair graph. The CC
      // size-adaptive union-find fast path (Dedup.scala) cut the
      // composite to 30.1 s at sf10, measured warm best-of-2 like
      // the r7 re-cut.
      // r12: the UNION pair frame (thin ids) is FrameCache'd — the
      // simhash + SNM families and the union distinct re-ran per
      // invocation even when the minhash side was already shared
      // (measured 2.13 s of the key's 2.6 s)
      val pairs = graft.operators.FrameCache.cached(s,
        s"ucp:${graft.operators.FrameCache.planKey(dd)}",
        // the sig persist is build-scoped; pin only the pair frame
        keepOnlyLast = true) {
        val sigs = Dedup.pairFeatures(dd, auditable = true)
          .select("doc_id", "sig")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.minhashLshShared(dd, auditable = true)
          .select("doc1", "doc2")
          .unionByName(Dedup.simhashFrom(sigs, maxHamming = 3,
            auditable = true).select("doc1", "doc2"))
          .unionByName(Dedup.sortedNeighborhood(dd).select("doc1", "doc2"))
          .distinct()
          .localCheckpoint()
      }
      Dedup.connectedComponents(pairs, dd).orderBy("doc_id")
    }),
    // clusters over the deterministic exact-Jaccard pair set (the LSH
    // pair sets are hash-dependent, so the gated variant uses the
    // oracle-reproducible edges)
    "dedup_cluster" -> ((s, d) =>
      Dedup.jaccardClusters(docs(s, d)).orderBy("doc_id")),
    // ---- §2.7 similarity search ----
    "ann_bruteforce" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "ann_lsh" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), auditable = true)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "ann_recall_audit" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.recallAudit(e, e.filter(col("vec_id") < 10))
        .orderBy("query_id")
    }),
    "ann_ivf" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "ann_ivfpq" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // capped-cluster forms (round 7): the grouping key is the
    // deferred-acceptance capacity-capped assignment at a fixed
    // 200-vector target list, so pair work is linear in the corpus —
    // the organic-label knnGraph/hubnessAudit remain as audit tools
    "ann_knn_graph" -> ((s, d) =>
      Similarity.knnGraphCapped(embs(s, d)).orderBy("src_id", "rank")),
    "ann_hubness" -> ((s, d) =>
      Similarity.hubnessAuditCapped(embs(s, d)).orderBy("in_degree")),
    // SPANN-shaped query path: nprobe=4 centroid route + beam
    // traversal of the within-partition kNN graph — query cost
    // bounded by beam*degree*hops, independent of corpus size
    "ann_graph_search" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.graphSearchTopK(e, e.filter(col("vec_id") < 10))
        .orderBy("query_id", "rank")
    }),
    "ann_graph_recall" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.graphSearchRecall(e, e.filter(col("vec_id") < 10))
        .orderBy("query_id")
    }),
    "emb_outliers" -> ((s, d) =>
      Similarity.embOutliers(embs(s, d)).orderBy("label", "rank_in_label")),
    "ann_truncation" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.truncationAudit(e, e.filter(col("vec_id") < 10))
        .orderBy("query_id")
    }),
    "q_abc_pareto" -> ((s, d) =>
      Relational.qAbcPareto(s, d).orderBy("abc_class")),
    "ann_knn_classify" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.knnClassifyAudit(e, e.filter(col("vec_id") < 50))
        .orderBy("true_label")
    }),
    "graph_degree_hist" -> ((s, d) =>
      Graph.degreeHistogram(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy("degree")),
    // result is already the deterministic top-k; tail re-sort only
    "graph_common_neighbors" -> ((s, d) =>
      Graph.commonNeighbors(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy(col("jaccard_ppm").desc, col("cust1"), col("cust2"))),
    // ---- §2.8 text analysis + multimodal ----
    "text_quality" -> ((s, d) =>
      TextAnalysis.textQuality(docs(s, d)).orderBy("doc_id")),
    "text_token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(docs(s, d)).orderBy("doc_id")),
    "text_lang_id" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),
    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id")),
    "text_normalize" -> ((s, d) =>
      TextAnalysis.normalize(docs(s, d)).orderBy("doc_id")),
    "dedup_normalized" -> ((s, d) =>
      TextAnalysis.dedupNormalized(docs(s, d)).orderBy("content_hash")),
    "text_ngram_jaccard" -> ((s, d) =>
      TextAnalysis.ngramJaccard(docs(s, d))
        .orderBy("source", "doc1", "doc2")),
    "text_containment" -> ((s, d) =>
      TextAnalysis.ngramContainment(docs(s, d))
        .orderBy("source", "src_id", "dst_id")),
    // provably identical result to text_ngram_jaccard (the oracle IS
    // that query's oracle) from prefix-filtered candidates
    "text_jaccard_prefix" -> ((s, d) =>
      TextAnalysis.ngramJaccardPrefix(docs(s, d))
        .orderBy("source", "doc1", "doc2")),
    "pipeline_filter" -> ((s, d) =>
      TextAnalysis.qualityFilterPipeline(docs(s, d)).orderBy("doc_id")),
    "pipeline_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(docs(s, d)).orderBy("doc_id")),
    "text_term_stats" -> ((s, d) =>
      TextAnalysis.termStats(docs(s, d)).orderBy(col("doc_freq").desc,
        col("term"))),
    "multimodal_features" -> ((s, d) =>
      Multimodal.mediaFrameIndex(docs(s, d)).orderBy("media_id", "frame_id")),
    // hash-exact gate: the bigram stub signature and md5-RHP buckets
    // are both re-derivable in SQL; exact kernel semantics also in
    // MultimodalSpec
    "media_near_dup" -> ((s, d) =>
      Multimodal.mediaNearDup(s, docs(s, d)).orderBy("id1", "id2")),
    // ---- round 3: reactive fill-in ----
    "rx_skip_while" -> ((s, d) =>
      Reactive.rxSkipWhile(ev(s, d)).orderBy("event_id")),
    "rx_take_until" -> ((s, d) =>
      Reactive.rxTakeUntil(ev(s, d)).orderBy("event_id")),
    "rx_skip_until" -> ((s, d) =>
      Reactive.rxSkipUntil(ev(s, d)).orderBy("event_id")),
    "rx_element_at" -> ((s, d) =>
      Reactive.rxElementAt(ev(s, d)).orderBy("user_id")),
    "rx_indexed" -> ((s, d) =>
      Reactive.rxIndexed(ev(s, d)).orderBy("event_id")),
    "rx_min_max_by" -> ((s, d) =>
      Reactive.rxMinMaxBy(ev(s, d)).orderBy("user_id")),
    "rx_single" -> ((s, d) =>
      Reactive.rxSingle(ev(s, d)).orderBy("user_id", "day_ms")),
    "rx_to_list" -> ((s, d) =>
      Reactive.rxToList(ev(s, d)).orderBy("user_id")),
    "rx_buffer_toggle" -> ((s, d) =>
      Reactive.rxBufferToggle(ev(s, d))
        .withColumn("buf_sum", col("buf_sum").cast("double"))
        .orderBy("user_id", "open_id")),
    "rx_sample_trigger" -> ((s, d) =>
      Reactive.rxSampleTrigger(ev(s, d)).orderBy("event_id")),
    // ---- round 3: training-data pipeline fill-in ----
    "pii_scrub" -> ((s, d) =>
      TextAnalysis.piiScrub(docs(s, d), concat(
        lit("Contact: u"), col("doc_id").cast("string"),
        lit("@mail.example.com or +1-555-000"), col("doc_id").cast("string"),
        lit(" visit https://ex.org/d/"), col("doc_id").cast("string"),
        lit(" "), col("text"))).orderBy("doc_id")),
    "contamination_check" -> ((s, d) =>
      TextAnalysis.contaminationCheck(docs(s, d), col("doc_id") % 97 === 0)
        .orderBy("doc_id")),
    "doc_chunks" -> ((s, d) =>
      TextAnalysis.docChunks(docs(s, d)).orderBy("doc_id", "chunk_id")),
    "source_stats" -> ((s, d) =>
      TextAnalysis.sourceStats(docs(s, d)).orderBy("source")),
    "token_histogram" -> ((s, d) =>
      TextAnalysis.tokenHistogram(docs(s, d)).orderBy("bucket_lo")),
    "text_tfidf_top_terms" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(docs(s, d)).orderBy("source", "rnk")),
    "text_novelty" -> ((s, d) =>
      TextAnalysis.textNovelty(docs(s, d)).orderBy("doc_id")),
    "curriculum_order" -> ((s, d) =>
      Sampling.curriculumOrder(docs(s, d)).orderBy("doc_id")),
    "lang_confusion" -> ((s, d) =>
      TextAnalysis.langConfusion(docs(s, d))
        .orderBy("labeled_lang", "predicted_lang")),
    "sketch_distinct" -> ((s, d) =>
      TextAnalysis.distinctTokensSketch(docs(s, d)).orderBy("source")),
    "sketch_set_ops" -> ((s, d) =>
      Sketches.kmvSetOps(docs(s, d)).orderBy("source_a", "source_b")),
    "sketch_cms_topk" -> ((s, d) =>
      Sketches.cmsHeavyHitters(docs(s, d))
        .orderBy(col("exact_cnt").desc, col("term"))),
    "sketch_quantiles" -> ((s, d) =>
      Sketches.quantileSketch(docs(s, d)).orderBy("source")),
    "text_collocations" -> ((s, d) =>
      TextAnalysis.collocations(docs(s, d))
        .orderBy(col("n_ab").desc, col("bigram"))),
    "source_diversity" -> ((s, d) =>
      TextAnalysis.sourceDiversity(docs(s, d)).orderBy("source")),
    "source_divergence" -> ((s, d) =>
      TextAnalysis.sourceDivergence(docs(s, d))
        .orderBy("source_a", "source_b")),
    "pipeline_importance_sample" -> ((s, d) =>
      Sampling.importanceSample(docs(s, d)).orderBy("doc_id")),
    "dedup_substring" -> ((s, d) =>
      Dedup.substringRepetition(docs(s, d)).orderBy("doc_id")),
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.substringSpans(docs(s, d)).orderBy("doc_id", "tok_start")),
    "emb_centroids" -> ((s, d) =>
      Similarity.labelCentroids(embs(s, d)).orderBy("label", "dim")),
    // Lloyd-refined IVF centroids: scaled-integer means + argmax
    // assignment make all 3 rounds bit-reproducible, so the iterative
    // index build itself gates hash-exactly (exploded to scalar rows —
    // the compare has no array-column convention)
    "emb_kmeans" -> ((s, d) =>
      Similarity.kmeansCentroids(embs(s, d), nlist = 16, iters = 3)
        .select(col("centroid_id"), posexplode(col("c_emb"))
          .as(Seq("dim", "x")))
        .select(col("centroid_id"), col("dim").cast("long").as("dim"),
          col("x"))
        .orderBy("centroid_id", "dim")),
    "q_grouping_sets" -> ((s, d) =>
      Relational.qGroupingSets(s, d)
        .withColumn("sum_qty", col("sum_qty").cast("double"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_pivot" -> ((s, d) => Relational.qPivot(s, d).orderBy("o_orderstatus")),
    "rx_group_by_until" -> ((s, d) =>
      Reactive.rxGroupByUntil(ev(s, d))
        .withColumn("win_sum", col("win_sum").cast("double"))
        .orderBy("user_id", "win_id")),
    "q_moving_avg" -> ((s, d) =>
      Relational.qMovingAvg(s, d).orderBy("o_orderkey")),
    "text_ngram_jaccard_capped" -> ((s, d) =>
      TextAnalysis.ngramJaccardCapped(docs(s, d), minJaccard = 0.02,
        maxDocFreq = 10).orderBy("source", "doc1", "doc2")),
    "text_containment_capped" -> ((s, d) =>
      TextAnalysis.containmentCapped(docs(s, d),
        minContainmentPpm = 50000L, maxDocFreq = 10)
        .orderBy("source", "doc1", "doc2")),
    "q21_waiting_suppliers" -> ((s, d) =>
      Relational.q21WaitingSuppliers(s, d)),
    "q2_min_cost_supplier" -> ((s, d) =>
      Relational.q2MinCostSupplier(s, d)),
    "q11_important_parts" -> ((s, d) =>
      Relational.q11ImportantParts(s, d)),
    "q20_prolific_suppliers" -> ((s, d) =>
      Relational.q20ProlificSuppliers(s, d)),
    "q_window_suite" -> ((s, d) =>
      Relational.qWindowSuite(s, d).orderBy("o_orderkey")),
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25(docs(s, d),
        Seq("spark", "join", "window", "stream")).orderBy("doc_id")),
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetition(docs(s, d)).orderBy("doc_id")),
    "ann_range" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.rangeSearch(e, e.filter(col("vec_id") < 10),
        minCosine = 0.15).orderBy("query_id", "neighbor_id")
    }),
    "rx_exhaust_map" -> ((s, d) =>
      Reactive.rxExhaustMap(ev(s, d)).orderBy("user_id", "event_id")),
    "rx_fork_join" -> ((s, d) =>
      Reactive.rxForkJoin(ev(s, d)).orderBy("user_id")),
    "asof_forward" -> ((s, d) =>
      asofDirectional(ev(s, d), "forward").orderBy("event_id")),
    "asof_nearest" -> ((s, d) =>
      asofDirectional(ev(s, d), "nearest").orderBy("event_id")),
    "asof_tolerance" -> ((s, d) =>
      asofDirectional(ev(s, d), "nearest", Some(50L))
        .orderBy("event_id")),
    "rx_resample" -> ((s, d) =>
      Reactive.rxResample(ev(s, d)).orderBy("user_id", "grid_ms")),
    "rx_rolling_stats" -> ((s, d) =>
      Reactive.rxRollingStats(ev(s, d)).orderBy("event_id")),
    "rx_cohort_retention" -> ((s, d) =>
      Reactive.rxCohortRetention(ev(s, d))
        .orderBy("cohort_day", "offset_days")),
    // calendar bucketing: dow from epoch-day arithmetic ((d+4)%7,
    // 1970-01-01 = Thursday) — engine-neutral, no dow() convention
    // ordered string aggregation (Rx toList for strings): order
    // carried INSIDE the aggregate via (event_id, type) structs so
    // the concat is deterministic under any partitioning
    "rx_group_concat" -> ((s, d) =>
      ev(s, d).filter(col("event_id") % 50 === 0)
        .groupBy("user_id")
        .agg(
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("event_id"),
              col("event_type")))),
            x => x.getField("event_type"))).as("seq"),
          count(lit(1)).as("n"))
        .orderBy("user_id")),
    // per-key mode with deterministic ties (lexicographic min)
    "rx_mode" -> ((s, d) => {
      val c = ev(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
      val m = c.groupBy("user_id").agg(max("cnt").as("mx"))
      c.join(m, Seq("user_id"))
        .filter(col("cnt") === col("mx"))
        .groupBy("user_id", "mx")
        .agg(min("event_type").as("mode_type"))
        .select(col("user_id"), col("mode_type"),
          col("mx").as("mode_n"))
        .orderBy("user_id")
    }),
    "rx_calendar" -> ((s, d) =>
      ev(s, d).groupBy(
          year(col("ts")).cast("long").as("y"),
          month(col("ts")).cast("long").as("m"),
          (expr("unix_millis(ts) div 86400000") + lit(4))
            .mod(lit(7)).as("dow"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types
            .DecimalType(18, 2))).cast("double").as("sum_v"))
        .orderBy("y", "m", "dow")),
    "sample_per_key" -> ((s, d) =>
      Sampling.samplePerKey(ev(s, d)
          .select("user_id", "event_id", "value"),
        "user_id", "event_id", 3).orderBy("user_id", "event_id")),
    "source_percentiles" -> ((s, d) =>
      TextAnalysis.sourcePercentiles(docs(s, d)).orderBy("source")),
    // semi-structured: JSON property extraction inside a codegen'd
    // scan-agg (get_json_object never leaves whole-stage codegen)
    "rx_json_props" -> ((s, d) =>
      ev(s, d).select(col("user_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("user_id", "event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("user_id", "event_type")),
    // set algebra: INTERSECT/EXCEPT compile to semi/anti aggregates
    "q_set_ops" -> ((s, d) => {
      def yr(y: Int) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      yr(1996).intersect(yr(1997)).select(col("c_custkey"),
          lit("both").as("bucket"))
        .unionByName(yr(1996).except(yr(1997))
          .select(col("c_custkey"), lit("only_96").as("bucket")))
        .orderBy("bucket", "c_custkey")
    }),
    "dedup_edit_verify" -> ((s, d) =>
      TextAnalysis.editVerify(docs(s, d))
        .orderBy("source", "doc1", "doc2")),
    "source_overlap" -> ((s, d) =>
      TextAnalysis.sourceOverlap(docs(s, d)).orderBy("source1", "source2")),
    "dedup_keep_best" -> ((s, d) => {
      val dd = docs(s, d)
      val labels = Dedup.jaccardClusters(dd)
      val quality = dd.select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("score"))
      Dedup.keepBest(labels, quality).orderBy("cluster_id")
    }),
    "pack_sequences" -> ((s, d) =>
      Packing.packGreedy(docs(s, d))
        .orderBy("source", "shard", "bin_id")),
    "dedup_incremental" -> ((s, d) =>
      Dedup.incrementalNew(docs(s, d),
        Seq("src16", "src17", "src18", "src19")).orderBy("doc_id")),
    "pipeline_mixture" -> ((s, d) =>
      Sampling.mixtureSample(docs(s, d)).orderBy("doc_id")),
    "pipeline_ingest" -> ((s, d) =>
      Packing.ingest(docs(s, d), Seq("src16", "src17", "src18", "src19"))
        .orderBy("source", "shard", "bin_id")),
    // ---- round 3: runtime filter, merge, partition ----
    "rx_partition" -> ((s, d) =>
      Reactive.rxPartition(ev(s, d)).orderBy("event_id")),
    "q_bloom_join" -> ((s, d) => {
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select("o_orderkey")
      val fact = Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag")
      // expectedItems sized to the filtered dim (~4% of orders); at
      // production SF this comes from table stats
      RuntimeFilter.bloomPrunedJoin(fact, dim, "l_orderkey", "o_orderkey",
          expectedItems = 65536L)
        .groupBy("l_returnflag")
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    // skew ops: result sets are join/agg-equivalent to the unsalted
    // plans, so they gate hash-exactly against plain SQL (the salt is
    // plan-shape-only); SkewSpec keeps the spread assertions
    "q_skew_join" -> ((s, d) => {
      val dec2 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val fact = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Skew.saltedJoin(fact, dim, "l_orderkey",
          struct(col("l_orderkey"), col("l_linenumber")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("rev"))
        .orderBy("o_orderpriority")
    }),
    "q_skew_agg" -> ((s, d) => {
      val dec2 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
      Skew.saltedAgg(
          Tables.lineitem(s, d)
            .withColumn("qty_dec", dec2(col("l_quantity"))),
          "l_returnflag", "qty_dec",
          struct(col("l_orderkey"), col("l_linenumber")))
        .withColumn("sum_qty_dec", col("sum_qty_dec").cast("double"))
        .orderBy("l_returnflag")
    }),
    "q_merge_upsert" -> ((s, d) => {
      val dec2 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val base = Tables.customer(s, d)
        .filter(col("c_acctbal") > 1000.0)
        .select(col("c_custkey"), dec2(col("c_acctbal")).as("c_acctbal"),
          col("c_nationkey").cast("long").as("c_nationkey"))
      val updates = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum(dec2(col("o_totalprice"))).cast(
          org.apache.spark.sql.types.DecimalType(18, 2)).as("c_acctbal"))
      MergeOps.upsert(base, updates, "c_custkey")
        .withColumn("c_acctbal", col("c_acctbal").cast("double"))
        .orderBy("c_custkey")
    }),
    "pipeline_shard" -> ((s, d) =>
      Sampling.shuffleShard(docs(s, d), nshards = 8).orderBy("doc_id")),
    "pipeline_split" -> ((s, d) =>
      Sampling.splitAssign(docs(s, d)).orderBy("doc_id")),
    "rx_resample_interp" -> ((s, d) =>
      Reactive.rxResampleInterp(ev(s, d)).orderBy("user_id", "grid_ms")),
    "rx_funnel" -> ((s, d) =>
      Reactive.rxFunnel(ev(s, d)).orderBy("user_id")),
    "rx_ewma" -> ((s, d) =>
      Reactive.rxEwma(ev(s, d)).orderBy("user_id", "event_id")),
    "rx_holt" -> ((s, d) =>
      Reactive.rxHolt(ev(s, d)).orderBy("user_id", "event_id")),
    "rx_runs_test" -> ((s, d) =>
      Reactive.rxRunsTest(ev(s, d)).orderBy("user_id")),
    "rx_theil_sen" -> ((s, d) =>
      Reactive.rxTheilSen(ev(s, d)).orderBy("user_id")),
    "rx_mann_kendall" -> ((s, d) =>
      Reactive.rxMannKendall(ev(s, d)).orderBy("user_id")),
    "rx_bollinger" -> ((s, d) =>
      Reactive.rxBollinger(ev(s, d)).orderBy("user_id", "event_id")),
    "rx_entropy_rate" -> ((s, d) =>
      Reactive.rxEntropyRate(ev(s, d)).orderBy("user_id")),
    "rx_ignore_elements" -> ((s, d) =>
      Reactive.rxIgnoreElements(ev(s, d)).orderBy("user_id")),
    "dedup_paragraph" -> ((s, d) =>
      TextAnalysis.chunkDedup(docs(s, d)).orderBy("chunk_hash")),
    "dedup_cdc_chunks" -> ((s, d) =>
      Dedup.cdcChunkReport(docs(s, d)).orderBy("source")),
    "dedup_cdc_gear" -> ((s, d) =>
      Dedup.cdcGearReport(docs(s, d)).orderBy("source")),
    // ingest wave = odd doc_ids, existing corpus = even doc_ids
    "dedup_cdc_incremental" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.cdcIncremental(all.filter(col("doc_id") % 2 === 1),
        all.filter(col("doc_id") % 2 === 0)).orderBy("source")
    }),
    "rx_rolling_median" -> ((s, d) =>
      Reactive.rxRollingMedian(ev(s, d)).orderBy("event_id")),
    "rx_variance" -> ((s, d) =>
      Reactive.rxVariance(ev(s, d)).orderBy("user_id")),
    "rx_outliers" -> ((s, d) =>
      Reactive.rxOutliers(ev(s, d)).orderBy("event_id")),
    "rx_outliers_mad" -> ((s, d) =>
      Reactive.rxOutliersMad(ev(s, d)).orderBy("event_id")),
    "rx_trend_correlation" -> ((s, d) =>
      Reactive.rxTrendCorrelation(ev(s, d)).orderBy("user_id")),
    "rx_spearman" -> ((s, d) =>
      Reactive.rxSpearman(ev(s, d)).orderBy("user_id")),
    "rx_sax" -> ((s, d) =>
      Reactive.rxSax(ev(s, d)).orderBy("user_id")),
    "rx_lis" -> ((s, d) =>
      Reactive.rxLis(ev(s, d)).select("user_id", "n", "lis_len")
        .orderBy("user_id")),
    "rx_kendall_tau" -> ((s, d) =>
      Reactive.rxKendallTau(ev(s, d)).orderBy("user_id")),
    "rx_xcorr" -> ((s, d) =>
      Reactive.rxXcorr(ev(s, d)).orderBy("user_id")),
    "graph_closeness" -> ((s, d) =>
      Graph.closenessTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d)).orderBy("node")),
    "graph_scc" -> ((s, d) =>
      Graph.sccTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d)).orderBy("node")),
    "graph_topo_layers" -> ((s, d) =>
      Graph.topoLayersTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d)).orderBy("node")),
    "rx_cadence" -> ((s, d) =>
      Reactive.rxCadence(ev(s, d)).orderBy("user_id")),
    "text_shingle_spectrum" -> ((s, d) =>
      TextAnalysis.shingleSpectrum(docs(s, d)).orderBy("log2_df")),
    "pack_bfd" -> ((s, d) =>
      Packing.packBfd(docs(s, d))
        .orderBy("source", "shard", "bin_id")),
    "graph_reciprocity" -> ((s, d) =>
      Graph.reciprocityTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d)).orderBy("node")),
    "q_tukey_outliers" -> ((s, d) =>
      Relational.qTukeyOutliers(s, d).orderBy("o_orderpriority")),
    "pipeline_class_upsample" -> ((s, d) =>
      Sampling.classUpsample(docs(s, d))
        .orderBy("doc_id", "copy_id")),
    "q_equiwidth_2d" -> ((s, d) =>
      Relational.qEquiWidth2D(s, d).orderBy("q_bucket", "p_bucket")),
    "emb_cos_hist" -> ((s, d) =>
      Similarity.cosineHistogram(embs(s, d)).orderBy("bucket")),
    "rx_sign_changes" -> ((s, d) =>
      Reactive.rxSignChanges(ev(s, d)).orderBy("user_id")),
    "graph_sssp" -> ((s, d) =>
      Graph.ssspTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d)).orderBy("node")),
    "graph_scc_keys" -> ((s, d) =>
      Graph.sccKeysTrade(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy("node")),
    "graph_sssp_keys" -> ((s, d) =>
      Graph.ssspKeysTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d)).orderBy("node")),
    "graph_topo_layers_keys" -> ((s, d) =>
      Graph.topoLayersKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("node")),
    "graph_harmonic_keys" -> ((s, d) =>
      Graph.harmonicKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("node")),
    "graph_pagerank_keys" -> ((s, d) =>
      Graph.pageRankKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("node")),
    "graph_reciprocity_keys" -> ((s, d) =>
      Graph.reciprocityKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("node")),
    "graph_triangles_keys" -> ((s, d) =>
      Graph.trianglesKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("cust")),
    "graph_clustering_keys" -> ((s, d) =>
      Graph.clusteringKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("cust")),
    "graph_k_truss" -> ((s, d) =>
      Graph.kTrussTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("round")),
    "graph_ppr_keys" -> ((s, d) =>
      Graph.pprKeysTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d)).orderBy("node")),
    "graph_cosource_components" -> ((s, d) =>
      Graph.cosourceComponents(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("cust")),
    "graph_eccentricity_keys" -> ((s, d) =>
      Graph.eccentricityKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("node")),
    "graph_betweenness_keys" -> ((s, d) =>
      Graph.betweennessKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("node")),
    "graph_degree_mixing" -> ((s, d) =>
      Graph.degreeMixingTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("src_bucket", "dst_bucket")),
    "graph_degree_drift" -> ((s, d) =>
      Graph.degreeDriftTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("month_key")),
    "graph_hop_histogram" -> ((s, d) =>
      Graph.hopHistogramKeysTrade(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("h")),
    "dedup_canonical" -> ((s, d) =>
      Dedup.canonicalSelection(docs(s, d)).orderBy("cluster_id")),
    "emb_norm_hist" -> ((s, d) =>
      Similarity.normHistogram(embs(s, d)).orderBy("bucket")),
    "ann_mips" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.mipsTopK(e, e.filter(col("vec_id") < 10))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "rx_mann_whitney" -> ((s, d) =>
      Reactive.rxMannWhitney(ev(s, d)).orderBy("event_type")),
    "rx_ks_test" -> ((s, d) =>
      Reactive.rxKsTest(ev(s, d)).orderBy("event_type")),
    "dedup_bloom_admit" -> ((s, d) =>
      Dedup.bloomAdmit(docs(s, d),
        Seq("src16", "src17", "src18", "src19")).orderBy("source")),
    "dedup_admit_indexed" -> ((s, d) => {
      val dd = docs(s, d)
      val srcs = Seq("src16", "src17", "src18", "src19")
      val corpus = dd.filter(!col("source").isin(srcs: _*))
        .select("doc_id", "text")
      val wave = dd.filter(col("source").isin(srcs: _*))
        .select("doc_id", "text")
      // corpus-keyed frozen index ([[frozenIndex]]); legacy
      // fp-/hashCode-named dirs (no 'p' prefix) are GC'd on any
      // rebuild
      val srcFile = new java.io.File(d, "documents.parquet")
      val idx = s"/root/repo/target/mh_gate_idx_p" +
        md5hex(srcFile.getCanonicalPath)
      frozenIndex(srcFile, idx) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        Option(new java.io.File("/root/repo/target").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory &&
            f.getName.startsWith("mh_gate_idx_") &&
            !f.getName.startsWith("mh_gate_idx_p"))
          .foreach(rm)
        Dedup.minhashWriteIndex(corpus, idx, auditable = true)
      }
      Dedup.minhashAdmitIndexed(s, idx, wave, auditable = true)
        .orderBy("doc_id")
    }),
    "q_incremental_topk" -> ((s, d) =>
      Relational.qIncrementalTopK(s, d)
        .orderBy("o_orderpriority", "rank")),
    "emb_admit_indexed" -> ((s, d) => {
      val e = embs(s, d)
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
        .select("vec_id", "embedding")
      val wave = e.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      // frozen per-SF IVF index ([[frozenIndex]]); iters = 0 keeps
      // the centroids at the auditable vec_id < nlist init so the
      // DuckDB oracle re-derives the identical assignment
      val srcFile = new java.io.File(d, "embeddings.parquet")
      val idx = s"/root/repo/target/ivf_gate_idx_p" +
        md5hex(srcFile.getCanonicalPath)
      frozenIndex(srcFile, idx)(
        Similarity.ivfWriteIndex(corpus, idx, nlist = 16, iters = 0))
      Dedup.embeddingAdmitIndexed(s, idx, wave, minCosine = 0.4)
        .orderBy("vec_id")
    }),
    "emb_matryoshka" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.matryoshkaAudit(e, e.filter(col("vec_id") < 20))
        .orderBy("query_id")
    }),
    "text_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(docs(s, d)).orderBy("doc_id")),
    "dedup_span_stats" -> ((s, d) =>
      Dedup.substringSpanStats(docs(s, d)).orderBy("source")),
    "text_lang_matrix" -> ((s, d) =>
      TextAnalysis.langSourceMatrix(docs(s, d)).orderBy("source")),
    "profile_table" -> ((s, d) =>
      Relational.profileTable(s, d).orderBy("col_name")),
    "q_equidepth" -> ((s, d) =>
      Relational.qEquiDepth(s, d).orderBy("bucket")),
    "emb_quantize" -> ((s, d) =>
      Similarity.quantizeAudit(embs(s, d)).orderBy("vec_id")),
    "corpus_diff" -> ((s, d) => {
      val dd = docs(s, d)
      val oldSnap = dd.filter(col("doc_id") % 7 =!= 0)
        .select("doc_id", "text")
      val newSnap = dd.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      MergeOps.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        .orderBy("doc_id")
    }),
    "rx_session_capped" -> ((s, d) =>
      Reactive.rxSessionCapped(ev(s, d))
        .orderBy("user_id", "ts_ms", "event_id")),
    "rx_funnel_windowed" -> ((s, d) =>
      Reactive.rxFunnelWindowed(ev(s, d)).orderBy("user_id")),
    "rx_weighted_median" -> ((s, d) =>
      Reactive.rxWeightedMedian(ev(s, d)).orderBy("user_id")),
    "graph_triangles" -> ((s, d) =>
      Graph.trianglesTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d))
        .orderBy("n1", "n2", "n3")),
    "q_unpivot" -> ((s, d) =>
      Relational.qUnpivot(s, d).orderBy("l_returnflag", "measure")),
    "q_merge_scd2" -> ((s, d) => {
      scd2Merged(s, d).orderBy("c_custkey", "valid_from")
    }),
    "text_bigram_fluency" -> ((s, d) =>
      TextAnalysis.bigramFluency(docs(s, d)).orderBy("doc_id")),
    "text_surprisal" -> ((s, d) =>
      TextAnalysis.unigramSurprisal(docs(s, d)).orderBy("doc_id")),
    "text_token_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(docs(s, d)).orderBy("doc_id")),
    "dedup_est_audit" -> ((s, d) =>
      Dedup.minhashEstAudit(docs(s, d)).orderBy("err_decile")),
    "pipeline_grouped_kfold" -> ((s, d) => {
      val dd = docs(s, d)
      Sampling.groupedKFold(Dedup.jaccardClusters(dd), dd)
        .orderBy("fold")
    }),
    "text_nb_classify" -> ((s, d) =>
      TextAnalysis.nbClassify(docs(s, d)).orderBy("doc_id")),
    "pipeline_dsir" -> ((s, d) =>
      Sampling.dsirWeights(docs(s, d)).orderBy("doc_id")),
    "pipeline_epoch_mix" -> ((s, d) =>
      Sampling.epochMix(docs(s, d)).orderBy("source", "epoch")),
    "graph_k_core" -> ((s, d) =>
      Graph.kCoreTrade(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy("round")),
    "graph_hits" -> ((s, d) =>
      Graph.hitsTrade(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy(col("role"), col("score").desc, col("node"))),
    "dedup_threshold_sweep" -> ((s, d) =>
      Dedup.thresholdSweep(docs(s, d)).orderBy("band")),
    "text_zipf_audit" -> ((s, d) =>
      TextAnalysis.zipfAudit(docs(s, d)).orderBy("rank")),
    "text_ocr_artifacts" -> ((s, d) =>
      TextAnalysis.ocrArtifacts(docs(s, d)).orderBy("doc_id")),
    "pipeline_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(docs(s, d)).orderBy("source")),
    "dedup_cluster_stats" -> ((s, d) =>
      Dedup.clusterStats(Dedup.jaccardClusters(docs(s, d)))
        .orderBy("csize")),
    "text_lang_mix" -> ((s, d) =>
      TextAnalysis.langMix(docs(s, d)).orderBy("doc_id")),
    "dedup_recall_audit" -> ((s, d) =>
      Dedup.recallAudit(docs(s, d)).orderBy("band")),
    "text_cooccurrence" -> ((s, d) =>
      TextAnalysis.cooccurrence(docs(s, d))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))),
    "q_equiwidth" -> ((s, d) =>
      Relational.qEquiWidth(s, d).orderBy("bucket")),
    "rx_rate_limit" -> ((s, d) =>
      Reactive.rxRateLimit(ev(s, d))
        .orderBy("user_id", "ts_ms", "event_id")),
    "search_hybrid_rrf" -> ((s, d) =>
      Similarity.hybridRrf(docs(s, d), embs(s, d),
        Seq("spark", "join", "window", "stream")).orderBy("doc_id")),
    "rx_transitions" -> ((s, d) =>
      Reactive.rxTransitions(ev(s, d)).orderBy("from_type", "to_type")),
    "rx_twap" -> ((s, d) =>
      Reactive.rxTwap(ev(s, d)).orderBy("user_id")),
    "q_skyline" -> ((s, d) =>
      Relational.qSkyline(s, d).orderBy("p_retailprice", "p_partkey")),
    "text_keywords" -> ((s, d) =>
      TextAnalysis.keywords(docs(s, d)).orderBy("doc_id", "kw_rank")),
    "text_bpe_pairs" -> ((s, d) => TextAnalysis.bpePairs(docs(s, d))),
    "q_period_growth" -> ((s, d) =>
      Relational.qPeriodGrowth(s, d).orderBy("ym")),
    "rx_rolling_actives" -> ((s, d) =>
      Reactive.rxRollingActives(ev(s, d)).orderBy("wday")),
    "rx_streaks" -> ((s, d) =>
      Reactive.rxStreaks(ev(s, d)).orderBy("user_id")),
    "q_corr_matrix" -> ((s, d) =>
      Relational.qCorrMatrix(s, d).orderBy("col_a", "col_b")),
    "rx_cusum" -> ((s, d) =>
      Reactive.rxCusum(ev(s, d)).orderBy("user_id", "event_id")),
    "rx_attribution" -> ((s, d) =>
      Reactive.rxAttribution(ev(s, d)).orderBy("channel")),
    "text_boilerplate" -> ((s, d) =>
      TextAnalysis.boilerplate(docs(s, d)).orderBy("doc_id")),
    "q_basket_pairs" -> ((s, d) => Relational.qBasketPairs(s, d)),
    "rx_paths" -> ((s, d) => Reactive.rxPaths(ev(s, d))),
    "rx_survival" -> ((s, d) =>
      Reactive.rxSurvival(ev(s, d)).orderBy("day")),
    "dedup_semantic" -> ((s, d) =>
      Dedup.dedupSemantic(embs(s, d)).orderBy("vec_id")),
    "q_decile_lift" -> ((s, d) =>
      Relational.qDecileLift(s, d).orderBy("decile")),
    "emb_whitening" -> ((s, d) =>
      Similarity.whitenEmbeddings(embs(s, d)).orderBy("vec_id", "dim")),
    "text_dup_ngrams" -> ((s, d) =>
      TextAnalysis.dupNgrams(docs(s, d)).orderBy("doc_id")),
    "rx_pattern_match" -> ((s, d) =>
      Reactive.rxPatternMatch(ev(s, d))
        .orderBy("user_id", "purchase_event_id")),
    "rx_trending" -> ((s, d) =>
      Reactive.rxTrending(ev(s, d)).orderBy("day", "rank")),
    "rx_ab_test" -> ((s, d) => Reactive.rxAbTest(ev(s, d)).orderBy("arm")),
    "emb_pca" -> ((s, d) =>
      Similarity.pcaTopComponent(embs(s, d)).orderBy("dim")),
    "q_rfm" -> ((s, d) => Relational.qRfm(s, d).orderBy("segment")),
    "pipeline_contrastive" -> ((s, d) =>
      Similarity.contrastivePairs(embs(s, d)).orderBy("vec_id")),
    "rx_burst" -> ((s, d) =>
      Reactive.rxBurst(ev(s, d)).orderBy("event_type", "minute")),
    "pipeline_padding_waste" -> ((s, d) =>
      TextAnalysis.paddingWaste(docs(s, d)).orderBy("ctx")),
    "text_vocab_growth" -> ((s, d) =>
      TextAnalysis.vocabGrowth(docs(s, d)).orderBy("pct")),
    "rx_seasonality" -> ((s, d) =>
      Reactive.rxSeasonality(ev(s, d)).orderBy("day")),
    "q_basket_rules" -> ((s, d) =>
      Relational.qBasketRules(s, d).orderBy("lhs", "rhs")),
    "pipeline_dataset_card" -> ((s, d) =>
      TextAnalysis.datasetCard(docs(s, d))),
    "text_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(docs(s, d)).orderBy("merge_rank")),
    "rx_cohort_ltv" -> ((s, d) =>
      Reactive.rxCohortLtv(ev(s, d)).orderBy("cohort_week", "age_weeks")),
    "pipeline_token_budget" -> ((s, d) =>
      Sampling.tokenBudget(docs(s, d)).orderBy("source")),
    "rx_funnel_rates" -> ((s, d) =>
      Reactive.rxFunnelRates(ev(s, d)).orderBy("stage")),
    "emb_abtt" -> ((s, d) =>
      Similarity.abttCorrect(embs(s, d)).orderBy("vec_id", "dim")),
    "rx_lifecycle" -> ((s, d) =>
      Reactive.rxLifecycle(ev(s, d)).orderBy("week")),
    "rx_ts_match" -> ((s, d) => Reactive.rxTsMatch(ev(s, d))),
    "text_charset_profile" -> ((s, d) =>
      TextAnalysis.charsetProfile(docs(s, d)).orderBy("doc_id")),
    "rx_session_stats" -> ((s, d) =>
      Reactive.rxSessionStats(ev(s, d)).orderBy("day")),
    "rx_concurrency" -> ((s, d) =>
      Reactive.rxConcurrency(ev(s, d)).orderBy("minute")),
    "rx_acf" -> ((s, d) =>
      Reactive.rxAcf(ev(s, d)).orderBy("event_type", "lag")),
    "rx_state_dwell" -> ((s, d) =>
      Reactive.rxStateDwell(ev(s, d)).orderBy("event_type")),
    "rx_stickiness" -> ((s, d) =>
      Reactive.rxStickiness(ev(s, d)).orderBy("day")),
    "emb_cluster_quality" -> ((s, d) =>
      Similarity.clusterQuality(embs(s, d)).orderBy("label")),
    "q_latency_hist" -> ((s, d) =>
      Relational.qLatencyHist(s, d).orderBy("week_bucket")),
    "text_lexical_diversity" -> ((s, d) =>
      TextAnalysis.lexicalDiversity(docs(s, d)).orderBy("doc_id")),
    "rx_forecast_backtest" -> ((s, d) =>
      Reactive.rxForecastBacktest(ev(s, d)).orderBy("event_type")),
    "rx_slo_burn" -> ((s, d) =>
      Reactive.rxSloBurn(ev(s, d)).orderBy("minute")),
    "q_scd2_asof" -> ((s, d) => {
      val merged = scd2Merged(s, d)
      MergeOps.scd2AsOf(merged, 25L)
        .unionByName(MergeOps.scd2AsOf(merged, 100L))
        .select("snap_t", "c_custkey", "bal")
        .orderBy("snap_t", "c_custkey")
    }),
    "emb_dim_profile" -> ((s, d) =>
      Similarity.dimProfile(embs(s, d)).orderBy("dim")),
    "text_length_powerlaw" -> ((s, d) =>
      TextAnalysis.lengthPowerlaw(docs(s, d)).orderBy("log2_bucket")),
    "text_readability" -> ((s, d) =>
      TextAnalysis.readability(docs(s, d)).orderBy("doc_id")),
    "rx_stage_latency" -> ((s, d) =>
      Reactive.rxStageLatency(ev(s, d)).orderBy("stage")),
    "text_code_detect" -> ((s, d) =>
      TextAnalysis.codeDetect(docs(s, d)).orderBy("doc_id")),
    "q_customer_migration" -> ((s, d) =>
      Relational.qCustomerMigration(s, d).orderBy("seg_h1", "seg_h2")),
    "text_fertility" -> ((s, d) =>
      TextAnalysis.fertility(docs(s, d)).orderBy("lang")),
    "q_top_growth" -> ((s, d) =>
      Relational.qTopGrowthProducts(s, d)
        .orderBy(col("growth_ppm").desc, col("l_partkey"))),
    "rx_anomaly_path" -> ((s, d) =>
      Reactive.rxAnomalyPath(ev(s, d))
        .orderBy("min_prob_ppm", "user_id")),
    "rx_interarrival_hist" -> ((s, d) =>
      Reactive.rxInterarrivalHist(ev(s, d))
        .orderBy("event_type", "log2_bucket")),
    "pipeline_balanced_shards" -> ((s, d) =>
      Sampling.balancedShards(docs(s, d)).orderBy("shard")),
    "q_market_hhi" -> ((s, d) =>
      Relational.qMarketHhi(s, d).orderBy("n_name")),
    "q_trade_balance" -> ((s, d) =>
      Relational.qTradeBalance(s, d).orderBy("n_name")),
    "rx_drawdown" -> ((s, d) =>
      Reactive.rxDrawdown(ev(s, d)).orderBy("user_id")),
    "graph_bfs" -> ((s, d) =>
      Graph.bfsTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.supplier(s, d), Tables.nation(s, d)).orderBy("hop")),
    "q_gini" -> ((s, d) =>
      Relational.qGini(s, d).orderBy("n_name")),
    // PQ codebook training is the kmeansCentroids determinism story
    // (scaled-BIGINT means, broadcast argmin assignment) per
    // subspace, so the full train+audit loop gates hash-exactly
    "emb_pq" -> ((s, d) => Similarity.pqAudit(embs(s, d))),
    // same train+audit loop over the variance-permuted (OPQ-lite)
    // slices; the delta vs emb_pq is the value of the permutation
    "emb_pq_balanced" -> ((s, d) =>
      Similarity.pqAuditBalanced(embs(s, d))),
    "emb_binary_quant" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.binaryQuantAudit(e, e.filter(col("vec_id") < 20))
        .orderBy("query_id")
    }),
    "ann_binary_rerank" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.binaryRerank(e, e.filter(col("vec_id") < 20))
        .orderBy("query_id", "rank")
    }),
    "emb_kcenter" -> ((s, d) =>
      Similarity.kcenterSelect(embs(s, d)).orderBy("rank")),
    "search_mmr" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.mmrRerank(e, e.filter(col("vec_id") < 20))
        .orderBy("query_id", "pos")
    }),
    "pipeline_class_balance" -> ((s, d) =>
      Sampling.classBalance(docs(s, d)).orderBy("doc_id")),
    "pipeline_class_balance_fast" -> ((s, d) =>
      Sampling.classBalanceThreshold(docs(s, d)).orderBy("doc_id")),
    "graph_communities" -> ((s, d) =>
      Graph.labelPropTrade(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy("node")),
    "graph_modularity" -> ((s, d) =>
      Graph.modularityTrade(Tables.lineitem(s, d), Tables.orders(s, d))
        .orderBy("community")),
    "graph_modularity_proj" -> ((s, d) =>
      Graph.modularityProjection(Tables.lineitem(s, d),
        Tables.orders(s, d)).orderBy("community")),
    "pipeline_quantile_norm" -> ((s, d) =>
      Sampling.quantileNormalize(docs(s, d)).orderBy("doc_id")),
    "emb_robust_scale" -> ((s, d) =>
      Similarity.robustScale(embs(s, d)).orderBy("vec_id", "dim")),
    "rx_peaks" -> ((s, d) =>
      Reactive.rxPeaks(ev(s, d)).orderBy("user_id", "event_id")),
    "rx_hysteresis" -> ((s, d) =>
      Reactive.rxHysteresis(ev(s, d)).orderBy("user_id", "event_id")),
    "emb_capped_assign" -> ((s, d) =>
      Similarity.cappedAssign(embs(s, d)).orderBy("vec_id")),
    "emb_capped_lloyd" -> ((s, d) =>
      Similarity.cappedLloyd(embs(s, d)).orderBy("vec_id")),
    "dedup_report" -> ((s, d) =>
      Dedup.dedupReport(docs(s, d)).orderBy("source")),
    "dq_drift" -> ((s, d) => Sampling.qualityDrift(docs(s, d)))
  )

  private def asofDirectional(events: DataFrame, dir: String,
                              tolerance: Option[Long] = None): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
    val clicks = events.filter(col("event_type") === "click")
      .select("event_id", "user_id", "value")
    AsOf.joinDirectional(purchases, clicks, "user_id", "event_id",
        Seq("event_id", "value"), dir, tolerance)
      .withColumnsRenamed(Map(
        "value" -> "purchase_value",
        "asof_event_id" -> "click_event_id",
        "asof_value" -> "click_value"))
  }

  /** DuckDB oracle per query (driver runs at sf0.01). Every gated
    * query has an oracle: the LSH-family ops run the md5 ("auditable")
    * hash family whose buckets/signatures DuckDB re-derives exactly
    * (fixed seeds, string-min / scaled-integer arithmetic). */
  def oracleSql: Map[String, String] = oracleBase +
    // prefix-filtered candidates must reproduce the exact-join result
    // bit for bit — the strongest possible gate is literally the same
    // oracle
    ("text_jaccard_prefix" -> oracleBase("text_ngram_jaccard"))

  /** Shared 3-round power-iteration CTE chain (q..v3) used verbatim
    * by BOTH the emb_pca and emb_abtt oracles so the axis derivation
    * cannot drift between them. */
  private val pcaOracleCtes: String =
    """q AS (
        | SELECT CAST(d.d - 1 AS INT) AS dim,
        |  sum(CAST(floor(CAST(embedding[d.d] AS DOUBLE) * 1e6) AS BIGINT)) AS s,
        |  count(*) AS n
        | FROM embeddings, range(1, 65) d(d) GROUP BY 1),
        |mu AS (SELECT list(CAST(s AS DOUBLE) / n / 1e6 ORDER BY dim) AS m FROM q),
        |t1 AS (
        | SELECT e.vec_id, e.embedding,
        |  list_sum(list_transform(generate_series(1, 64),
        |   d -> (CAST(e.embedding[d] AS DOUBLE) - mu.m[d]) * 1.0)) AS t
        | FROM embeddings e, mu),
        |c1 AS (
        | SELECT CAST(d.d - 1 AS INT) AS dim,
        |  sum(CAST(floor((CAST(t1.embedding[d.d] AS DOUBLE) - mu.m[d.d])
        |    * t1.t * 1e6) AS BIGINT)) AS w
        | FROM t1, mu, range(1, 65) d(d) GROUP BY 1),
        |w1 AS (SELECT list(CAST(w AS DOUBLE) / 1e6 ORDER BY dim) AS wl FROM c1),
        |v1 AS (SELECT list_transform(wl,
        |  x -> x / sqrt(list_sum(list_transform(wl, y -> y * y)))) AS v FROM w1),
        |t2 AS (
        | SELECT e.vec_id, e.embedding,
        |  list_sum(list_transform(generate_series(1, 64),
        |   d -> (CAST(e.embedding[d] AS DOUBLE) - mu.m[d]) * v1.v[d])) AS t
        | FROM embeddings e, mu, v1),
        |c2 AS (
        | SELECT CAST(d.d - 1 AS INT) AS dim,
        |  sum(CAST(floor((CAST(t2.embedding[d.d] AS DOUBLE) - mu.m[d.d])
        |    * t2.t * 1e6) AS BIGINT)) AS w
        | FROM t2, mu, range(1, 65) d(d) GROUP BY 1),
        |w2 AS (SELECT list(CAST(w AS DOUBLE) / 1e6 ORDER BY dim) AS wl FROM c2),
        |v2 AS (SELECT list_transform(wl,
        |  x -> x / sqrt(list_sum(list_transform(wl, y -> y * y)))) AS v FROM w2),
        |t3 AS (
        | SELECT e.vec_id, e.embedding,
        |  list_sum(list_transform(generate_series(1, 64),
        |   d -> (CAST(e.embedding[d] AS DOUBLE) - mu.m[d]) * v2.v[d])) AS t
        | FROM embeddings e, mu, v2),
        |c3 AS (
        | SELECT CAST(d.d - 1 AS INT) AS dim,
        |  sum(CAST(floor((CAST(t3.embedding[d.d] AS DOUBLE) - mu.m[d.d])
        |    * t3.t * 1e6) AS BIGINT)) AS w
        | FROM t3, mu, range(1, 65) d(d) GROUP BY 1),
        |w3 AS (SELECT list(CAST(w AS DOUBLE) / 1e6 ORDER BY dim) AS wl FROM c3),
        |v3 AS (SELECT list_transform(wl,
        |  x -> x / sqrt(list_sum(list_transform(wl, y -> y * y)))) AS v FROM w3)""".stripMargin

  /** Shared capacity-capped assignment CTE chain (nl..asg) used by
    * the ann_knn_graph and ann_hubness oracles — the
    * emb_capped_assign oracle generalized to DYNAMIC nlist =
    * ceil(n/200), so cluster sizes stay bounded at any SF (the
    * engine twin is [[graft.operators.Similarity.cappedClusters]]).
    * Ends at `asg(vec_id, centroid_id)`; callers append their own
    * CTEs and the final SELECT. */
  private val cappedAsgSql: String =
    """WITH nl AS (
      | SELECT count(*) AS bign,
      |  CAST((count(*) + 199) // 200 AS BIGINT) AS nlist
      | FROM embeddings),
      |c0 AS (
      | SELECT e.vec_id AS centroid_id, e.embedding AS c_emb
      | FROM embeddings e, nl WHERE e.vec_id < nl.nlist),
      |cap AS (
      | SELECT (bign * 5 + 4 * nlist - 1) // (4 * nlist) AS cap FROM nl),
      |prefraw AS (
      | SELECT e.vec_id, c.centroid_id,
      |  list_sum(list_transform(list_zip(e.embedding, c.c_emb),
      |    s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
      |  / sqrt(list_sum(list_transform(e.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |    * list_sum(list_transform(c.c_emb,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos_sim
      | FROM embeddings e, c0 c),
      |pref AS (
      | SELECT vec_id, centroid_id, cos_sim,
      |  row_number() OVER (PARTITION BY vec_id
      |   ORDER BY cos_sim DESC, centroid_id) AS pref
      | FROM prefraw),
      |r1 AS (
      | SELECT p.*, row_number() OVER (PARTITION BY centroid_id
      |  ORDER BY cos_sim DESC, vec_id) AS arank
      | FROM pref p WHERE pref = 1),
      |a1 AS (
      | SELECT vec_id, centroid_id, cos_sim, 1 AS pref_used
      | FROM r1, cap WHERE arank <= cap),
      |rem1 AS (
      | SELECT c.centroid_id,
      |  (SELECT cap FROM cap) - count(a.vec_id) AS rem
      | FROM c0 c LEFT JOIN a1 a ON a.centroid_id = c.centroid_id
      | GROUP BY c.centroid_id),
      |r2 AS (
      | SELECT p.*, row_number() OVER (PARTITION BY p.centroid_id
      |  ORDER BY p.cos_sim DESC, p.vec_id) AS arank
      | FROM pref p
      | WHERE p.pref = 2
      |  AND p.vec_id NOT IN (SELECT vec_id FROM a1)),
      |a2 AS (
      | SELECT r.vec_id, r.centroid_id, r.cos_sim, 2 AS pref_used
      | FROM r2 r JOIN rem1 m USING (centroid_id)
      | WHERE r.arank <= m.rem),
      |rem2 AS (
      | SELECT m.centroid_id, m.rem - count(a.vec_id) AS rem
      | FROM rem1 m LEFT JOIN a2 a ON a.centroid_id = m.centroid_id
      | GROUP BY m.centroid_id, m.rem),
      |r3 AS (
      | SELECT p.*, row_number() OVER (PARTITION BY p.centroid_id
      |  ORDER BY p.cos_sim DESC, p.vec_id) AS arank
      | FROM pref p
      | WHERE p.pref = 3
      |  AND p.vec_id NOT IN (SELECT vec_id FROM a1)
      |  AND p.vec_id NOT IN (SELECT vec_id FROM a2)),
      |a3 AS (
      | SELECT r.vec_id, r.centroid_id, r.cos_sim, 3 AS pref_used
      | FROM r3 r JOIN rem2 m USING (centroid_id)
      | WHERE r.arank <= m.rem),
      |asg AS (
      | SELECT vec_id, centroid_id FROM a1
      | UNION ALL SELECT vec_id, centroid_id FROM a2
      | UNION ALL SELECT vec_id, centroid_id FROM a3)""".stripMargin

  /** The SPANN-shaped graph-search CTE chain (centroid route +
    * 5 unrolled beam rounds over the capped within-partition kNN
    * graph), shared by the ann_graph_search and ann_graph_recall
    * oracles -- ends at `fin` (the final beam, self excluded,
    * re-ranked). */
  private val graphSearchCtes: String =
    cappedAsgSql +
    """,
        |mem AS MATERIALIZED (
        | SELECT a.centroid_id AS cluster_id, a.vec_id, e.embedding
        | FROM asg a JOIN embeddings e USING (vec_id)),
        |p AS (
        | SELECT a.cluster_id, a.vec_id AS src_id, b.vec_id AS dst_id,
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(a.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(b.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM mem a JOIN mem b
        |  ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id),
        |g AS MATERIALIZED (
        | SELECT src_id, dst_id FROM (
        |  SELECT src_id, dst_id, row_number() OVER (PARTITION BY src_id
        |   ORDER BY cos_sim DESC, dst_id) AS rank FROM p)
        | WHERE rank <= 5),
        |qs AS MATERIALIZED (
        | SELECT vec_id AS query_id, embedding AS q_emb
        | FROM embeddings WHERE vec_id < 10),
        |route AS (
        | SELECT query_id, centroid_id FROM (
        |  SELECT query_id, centroid_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cs DESC, centroid_id) AS rn
        |  FROM (
        |   SELECT q.query_id, c.centroid_id,
        |    list_sum(list_transform(list_zip(q.q_emb, c.c_emb),
        |      s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(q.q_emb,
        |          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb,
        |          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cs
        |   FROM qs q, c0 c)) WHERE rn <= 4),
        |b0 AS (
        | SELECT DISTINCT query_id, vec_id FROM (
        |  SELECT r.query_id, min(m.vec_id) AS vec_id
        |  FROM route r JOIN mem m ON m.cluster_id = r.centroid_id
        |  GROUP BY r.query_id, r.centroid_id)),
        |c1 AS (
        | SELECT DISTINCT query_id, vec_id FROM (
        |  SELECT b.query_id, g.dst_id AS vec_id
        |  FROM b0 b JOIN g ON b.vec_id = g.src_id
        |  UNION ALL SELECT query_id, vec_id FROM b0)),
        |s1 AS (
        | SELECT query_id, vec_id, cos_sim, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        | FROM (
        |  SELECT c.query_id, c.vec_id,
        |   list_sum(list_transform(list_zip(q.q_emb, e.embedding),
        |     s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |   / sqrt(list_sum(list_transform(q.q_emb,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |      * list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        |  FROM c1 c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)),
        |b1 AS (SELECT query_id, vec_id FROM s1 WHERE rk <= 16),
        |c2 AS (
        | SELECT DISTINCT query_id, vec_id FROM (
        |  SELECT b.query_id, g.dst_id AS vec_id
        |  FROM b1 b JOIN g ON b.vec_id = g.src_id
        |  UNION ALL SELECT query_id, vec_id FROM b1)),
        |s2 AS (
        | SELECT query_id, vec_id, cos_sim, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        | FROM (
        |  SELECT c.query_id, c.vec_id,
        |   list_sum(list_transform(list_zip(q.q_emb, e.embedding),
        |     s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |   / sqrt(list_sum(list_transform(q.q_emb,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |      * list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        |  FROM c2 c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)),
        |b2 AS (SELECT query_id, vec_id FROM s2 WHERE rk <= 16),
        |c3 AS (
        | SELECT DISTINCT query_id, vec_id FROM (
        |  SELECT b.query_id, g.dst_id AS vec_id
        |  FROM b2 b JOIN g ON b.vec_id = g.src_id
        |  UNION ALL SELECT query_id, vec_id FROM b2)),
        |s3 AS (
        | SELECT query_id, vec_id, cos_sim, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        | FROM (
        |  SELECT c.query_id, c.vec_id,
        |   list_sum(list_transform(list_zip(q.q_emb, e.embedding),
        |     s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |   / sqrt(list_sum(list_transform(q.q_emb,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |      * list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        |  FROM c3 c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)),
        |b3 AS (SELECT query_id, vec_id FROM s3 WHERE rk <= 16),
        |c4 AS (
        | SELECT DISTINCT query_id, vec_id FROM (
        |  SELECT b.query_id, g.dst_id AS vec_id
        |  FROM b3 b JOIN g ON b.vec_id = g.src_id
        |  UNION ALL SELECT query_id, vec_id FROM b3)),
        |s4 AS (
        | SELECT query_id, vec_id, cos_sim, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        | FROM (
        |  SELECT c.query_id, c.vec_id,
        |   list_sum(list_transform(list_zip(q.q_emb, e.embedding),
        |     s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |   / sqrt(list_sum(list_transform(q.q_emb,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |      * list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        |  FROM c4 c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)),
        |b4 AS (SELECT query_id, vec_id FROM s4 WHERE rk <= 16),
        |c5 AS (
        | SELECT DISTINCT query_id, vec_id FROM (
        |  SELECT b.query_id, g.dst_id AS vec_id
        |  FROM b4 b JOIN g ON b.vec_id = g.src_id
        |  UNION ALL SELECT query_id, vec_id FROM b4)),
        |s5 AS (
        | SELECT query_id, vec_id, cos_sim, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        | FROM (
        |  SELECT c.query_id, c.vec_id,
        |   list_sum(list_transform(list_zip(q.q_emb, e.embedding),
        |     s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |   / sqrt(list_sum(list_transform(q.q_emb,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |      * list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        |  FROM c5 c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)),
        |fin AS (
        | SELECT query_id, vec_id, cos_sim, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
        | FROM s5 WHERE rk <= 16 AND vec_id <> query_id)""".stripMargin

  /** One unrolled deferred-acceptance iteration for the capped-LLOYD
    * oracle: the emb_capped_assign CTE chain parameterized by an
    * iteration suffix and the centroid CTE it assigns against
    * (requires `cap(cap)` already in scope). Emits
    * `asg{sfx}(vec_id, centroid_id, cos_sim, pref_used)`. */
  private def cappedIterSql(sfx: String, cents: String): String =
    s"""prefraw$sfx AS (
       | SELECT e.vec_id, c.centroid_id,
       |  list_sum(list_transform(list_zip(e.embedding, c.c_emb),
       |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / sqrt(list_sum(list_transform(e.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |    * list_sum(list_transform(c.c_emb,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos_sim
       | FROM embeddings e, $cents c),
       |pref$sfx AS (
       | SELECT vec_id, centroid_id, cos_sim,
       |  row_number() OVER (PARTITION BY vec_id
       |   ORDER BY cos_sim DESC, centroid_id) AS pref
       | FROM prefraw$sfx),
       |r${sfx}1 AS (
       | SELECT p.*, row_number() OVER (PARTITION BY centroid_id
       |  ORDER BY cos_sim DESC, vec_id) AS arank
       | FROM pref$sfx p WHERE pref = 1),
       |a${sfx}1 AS (
       | SELECT vec_id, centroid_id, cos_sim, 1 AS pref_used
       | FROM r${sfx}1, cap WHERE arank <= cap),
       |rem${sfx}1 AS (
       | SELECT c.centroid_id,
       |  (SELECT cap FROM cap) - count(a.vec_id) AS rem
       | FROM $cents c LEFT JOIN a${sfx}1 a ON a.centroid_id = c.centroid_id
       | GROUP BY c.centroid_id),
       |r${sfx}2 AS (
       | SELECT p.*, row_number() OVER (PARTITION BY p.centroid_id
       |  ORDER BY p.cos_sim DESC, p.vec_id) AS arank
       | FROM pref$sfx p
       | WHERE p.pref = 2
       |  AND p.vec_id NOT IN (SELECT vec_id FROM a${sfx}1)),
       |a${sfx}2 AS (
       | SELECT r.vec_id, r.centroid_id, r.cos_sim, 2 AS pref_used
       | FROM r${sfx}2 r JOIN rem${sfx}1 m USING (centroid_id)
       | WHERE r.arank <= m.rem),
       |rem${sfx}2 AS (
       | SELECT m.centroid_id, m.rem - count(a.vec_id) AS rem
       | FROM rem${sfx}1 m LEFT JOIN a${sfx}2 a
       |  ON a.centroid_id = m.centroid_id
       | GROUP BY m.centroid_id, m.rem),
       |r${sfx}3 AS (
       | SELECT p.*, row_number() OVER (PARTITION BY p.centroid_id
       |  ORDER BY p.cos_sim DESC, p.vec_id) AS arank
       | FROM pref$sfx p
       | WHERE p.pref = 3
       |  AND p.vec_id NOT IN (SELECT vec_id FROM a${sfx}1)
       |  AND p.vec_id NOT IN (SELECT vec_id FROM a${sfx}2)),
       |a${sfx}3 AS (
       | SELECT r.vec_id, r.centroid_id, r.cos_sim, 3 AS pref_used
       | FROM r${sfx}3 r JOIN rem${sfx}2 m USING (centroid_id)
       | WHERE r.arank <= m.rem),
       |asg$sfx AS (
       | SELECT * FROM a${sfx}1 UNION ALL SELECT * FROM a${sfx}2
       | UNION ALL SELECT * FROM a${sfx}3)""".stripMargin

  /** Capped-LLOYD oracle: two unrolled capped-acceptance iterations
    * (nlist = 16) with the scaled-BIGINT mean update between them —
    * the emb_capped_assign and emb_kmeans oracle families composed. */
  private lazy val cappedLloydSql: String =
    s"""WITH lc0 AS (
       | SELECT vec_id AS centroid_id, embedding AS c_emb
       | FROM embeddings WHERE vec_id < 16),
       |t AS (SELECT count(*) AS bign FROM embeddings),
       |cap AS (SELECT (bign * 5 + 63) // 64 AS cap FROM t),
       |${cappedIterSql("_l1", "lc0")},
       |lm AS (
       | SELECT a.centroid_id, CAST(d.d - 1 AS INT) AS dim,
       |  sum(CAST(floor(CAST(e.embedding[d.d] AS DOUBLE) * 1e6)
       |    AS BIGINT)) AS s,
       |  count(*) AS n
       | FROM asg_l1 a JOIN embeddings e USING (vec_id), range(1, 65) d(d)
       | GROUP BY 1, 2),
       |lc1 AS (
       | SELECT centroid_id,
       |  list(CAST(CAST(s AS DOUBLE) / n / 1e6 AS FLOAT) ORDER BY dim)
       |    AS c_emb
       | FROM lm GROUP BY centroid_id),
       |${cappedIterSql("_l2", "lc1")}
       |SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
       | cos_sim, CAST(pref_used AS BIGINT) AS pref_used
       |FROM asg_l2 ORDER BY vec_id""".stripMargin

  private lazy val oracleBase: Map[String, String] = Map(
    "rx_map" ->
      """SELECT event_id, user_id, value*2.5 AS scaled,
        | upper(event_type) AS tag,
        | concat_ws(':', user_id, event_type) AS route
        |FROM events ORDER BY event_id""".stripMargin,
    "rx_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 100.0
        |ORDER BY event_id""".stripMargin,
    "rx_flatmap" ->
      """SELECT event_id, u.rep, user_id, value/(u.rep+1) AS split_value
        |FROM events,
        | unnest(generate_series(0, greatest(0, least(CAST(floor(value/100) AS BIGINT), 3)))) AS u(rep)
        |ORDER BY event_id, rep""".stripMargin,
    "rx_scan" ->
      """SELECT event_id, user_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value,
        | count(*) OVER w AS running_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "rx_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "rx_distinct_until_changed" ->
      """SELECT event_id, user_id, event_type FROM (
        | SELECT event_id, user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        | FROM events)
        |WHERE prev_type IS NULL OR prev_type <> event_type
        |ORDER BY event_id""".stripMargin,
    "rx_islands" ->
      """WITH o AS (
        | SELECT user_id, event_id, event_type,
        |  CASE WHEN lag(event_type)
        |    OVER (PARTITION BY user_id ORDER BY event_id)
        |    IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        | FROM events),
        |i AS (
        | SELECT user_id, event_id, event_type,
        |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        | FROM o)
        |SELECT user_id, island_id, event_type,
        | count(*) AS n_events,
        | min(event_id) AS first_event_id,
        | max(event_id) AS last_event_id
        |FROM i GROUP BY user_id, island_id, event_type
        |ORDER BY user_id, island_id""".stripMargin,
    "rx_take" ->
      """SELECT event_id, user_id, rn FROM (
        | SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        | FROM events)
        |WHERE rn <= 5 ORDER BY event_id""".stripMargin,
    "rx_skip" ->
      """SELECT event_id, user_id, rn FROM (
        | SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        | FROM events)
        |WHERE rn > 5 ORDER BY event_id""".stripMargin,
    "rx_take_while" ->
      """SELECT event_id, user_id, value FROM (
        | SELECT event_id, user_id, value,
        |  sum(CASE WHEN value >= 150.0 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS violations
        | FROM events)
        |WHERE violations = 0 ORDER BY event_id""".stripMargin,
    "rx_first_last" ->
      """SELECT user_id, min(event_id) AS first_event_id,
        | min_by(value, event_id) AS first_value,
        | max(event_id) AS last_event_id,
        | max_by(value, event_id) AS last_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_pairwise" ->
      """SELECT event_id, user_id, prev_value, value AS cur_value FROM (
        | SELECT event_id, user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
        | FROM events)
        |WHERE prev_value IS NOT NULL ORDER BY event_id""".stripMargin,
    "rx_start_with" ->
      """SELECT * FROM (
        | SELECT CAST(-1 AS BIGINT) AS event_id, user_id,
        |  'seed' AS event_type, 0.0 AS value
        | FROM (SELECT DISTINCT user_id FROM events)
        | UNION ALL
        | SELECT event_id, user_id, event_type, value FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    "rx_default_if_empty" ->
      """SELECT * FROM (
        | SELECT user_id, event_id, value FROM events WHERE event_type = 'error'
        | UNION ALL
        | SELECT user_id, CAST(-1 AS BIGINT) AS event_id, 0.0 AS value
        | FROM (SELECT DISTINCT user_id FROM events) u
        | WHERE NOT EXISTS (SELECT 1 FROM events e
        |   WHERE e.user_id = u.user_id AND e.event_type = 'error'))
        |ORDER BY user_id, event_id""".stripMargin,
    "rx_merge" ->
      """SELECT * FROM (
        | SELECT event_id, user_id, value, 'A' AS src FROM events
        |  WHERE event_type = 'purchase'
        | UNION ALL
        | SELECT event_id, user_id, value, 'B' AS src FROM events
        |  WHERE event_type = 'click')
        |ORDER BY event_id""".stripMargin,
    "rx_concat" ->
      """SELECT * FROM (
        | SELECT 0 AS src_order, event_id, user_id FROM events
        |  WHERE event_type = 'signup'
        | UNION ALL
        | SELECT 1 AS src_order, event_id, user_id FROM events
        |  WHERE event_type = 'error')
        |ORDER BY src_order, event_id""".stripMargin,
    "rx_zip" ->
      """WITH p AS (
        | SELECT user_id, event_id AS purchase_event_id, value AS purchase_value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS idx
        | FROM events WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, event_id AS click_event_id, value AS click_value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS idx
        | FROM events WHERE event_type = 'click')
        |SELECT user_id, idx, purchase_event_id, purchase_value,
        | click_event_id, click_value
        |FROM p JOIN c USING (user_id, idx)
        |ORDER BY user_id, idx""".stripMargin,
    "rx_with_latest_from" ->
      """SELECT event_id, user_id, value AS click_value, latest_purchase FROM (
        | SELECT event_id, user_id, event_type, value,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_purchase
        | FROM events WHERE event_type IN ('click','purchase'))
        |WHERE event_type = 'click' AND latest_purchase IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "rx_combine_latest" ->
      """SELECT event_id, user_id, latest_purchase, latest_click FROM (
        | SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |   OVER w AS latest_purchase,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER w AS latest_click
        | FROM events WHERE event_type IN ('click','purchase')
        | WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE latest_purchase IS NOT NULL AND latest_click IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "rx_amb" ->
      """WITH cv AS (
        | SELECT * FROM events WHERE event_type IN ('click','view')),
        |w AS (
        | SELECT user_id, min_by(event_type, event_id) AS event_type
        | FROM cv GROUP BY user_id)
        |SELECT cv.event_id, cv.user_id, cv.event_type, cv.value
        |FROM cv JOIN w USING (user_id, event_type)
        |ORDER BY event_id""".stripMargin,
    "rx_switch_map" ->
      """SELECT stream_id, event_id, user_id, event_type, value FROM (
        | SELECT event_id, user_id, event_type, value,
        |  last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stream_id
        | FROM events)
        |WHERE stream_id IS NOT NULL AND event_type <> 'signup'
        |ORDER BY event_id""".stripMargin,
    "rx_buffer_count" ->
      """SELECT user_id, batch_id, count(*) AS batch_n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS batch_sum,
        | min(event_id) AS first_event_id, max(event_id) AS last_event_id
        |FROM (
        | SELECT user_id, event_id, value,
        |  CAST(floor((row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1)/10.0) AS BIGINT) AS batch_id
        | FROM events)
        |GROUP BY user_id, batch_id ORDER BY user_id, batch_id""".stripMargin,
    "rx_sliding_count_window" ->
      """SELECT event_id, user_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS window_sum,
        | count(*) OVER w AS window_n,
        | max(value) OVER w AS window_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "rx_sliding_time_window" ->
      """SELECT event_id, user_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS window_sum,
        | count(*) OVER w AS window_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |  RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "rx_buffer_count_skip" ->
      """SELECT user_id, u.batch_id, count(*) AS batch_n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS batch_sum,
        | min(event_id) AS first_event_id, max(event_id) AS last_event_id
        |FROM (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS pos
        | FROM events),
        | unnest(generate_series(
        |   greatest(0, CAST(ceil((pos - 9)/5.0) AS BIGINT)),
        |   CAST(floor(pos/5.0) AS BIGINT))) AS u(batch_id)
        |GROUP BY user_id, u.batch_id
        |ORDER BY user_id, batch_id""".stripMargin,
    "rx_window_tumbling" ->
      """SELECT (epoch_ms(ts)//3600000)*3600000 AS win_start_ms, event_type,
        | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS win_sum
        |FROM events GROUP BY 1, 2 ORDER BY win_start_ms, event_type""".stripMargin,
    "rx_window_sliding" ->
      """WITH assigned AS (
        | SELECT (epoch_ms(ts)//1800000)*1800000 AS win_start_ms, value FROM events
        | UNION ALL
        | SELECT (epoch_ms(ts)//1800000)*1800000 - 1800000 AS win_start_ms, value
        | FROM events)
        |SELECT win_start_ms, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS win_sum
        |FROM assigned GROUP BY win_start_ms ORDER BY win_start_ms""".stripMargin,
    "rx_window_session" ->
      """WITH g AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY event_id)
        |        >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        | FROM events),
        |s AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        | FROM g)
        |SELECT user_id, epoch_ms(min(ts)) AS sess_start_ms, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sess_sum
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, sess_start_ms""".stripMargin,
    "rx_debounce" ->
      """SELECT event_id, user_id, event_type, value FROM (
        | SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms,
        |  lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS next_ms
        | FROM events)
        |WHERE next_ms IS NULL OR next_ms - ms >= 600000
        |ORDER BY event_id""".stripMargin,
    "rx_throttle_first" ->
      """SELECT event_id, user_id, bucket_ms, value FROM (
        | SELECT event_id, user_id, value,
        |  epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |  row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |    ORDER BY event_id) AS rn
        | FROM events)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "rx_sample" ->
      """SELECT event_id, user_id, bucket_ms, value FROM (
        | SELECT event_id, user_id, value,
        |  epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |  row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |    ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "rx_delay" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        | epoch_ms(ts + INTERVAL 5 MINUTE) AS delayed_ms
        |FROM events ORDER BY event_id""".stripMargin,
    "rx_time_interval" ->
      """SELECT event_id, user_id, gap_ms FROM (
        | SELECT event_id, user_id,
        |  epoch_ms(ts) - lag(epoch_ms(ts))
        |   OVER (PARTITION BY user_id ORDER BY event_id) AS gap_ms
        | FROM events)
        |WHERE gap_ms IS NOT NULL ORDER BY event_id""".stripMargin,
    "rx_timeout" ->
      """SELECT event_id, user_id, gap_ms FROM (
        | SELECT event_id, user_id,
        |  epoch_ms(ts) - lag(epoch_ms(ts))
        |   OVER (PARTITION BY user_id ORDER BY event_id) AS gap_ms
        | FROM events)
        |WHERE gap_ms > 3600000 ORDER BY event_id""".stripMargin,
    "rx_reduce" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "rx_agg_suite" ->
      """SELECT user_id, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | min(value) AS min_value, max(value) AS max_value,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_value,
        | count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_group_by" ->
      """SELECT event_type, count(*) AS n,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | array_to_string(list_transform(
        |   list_slice(list_sort(list(event_id)), 1, 20),
        |   x -> CAST(x AS VARCHAR)), ',') AS first_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "rx_take_last" ->
      """SELECT event_id, user_id, rn_desc FROM (
        | SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn_desc
        | FROM events)
        |WHERE rn_desc <= 5 ORDER BY event_id""".stripMargin,
    "rx_skip_last" ->
      """SELECT event_id, user_id, rn_desc FROM (
        | SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn_desc
        | FROM events)
        |WHERE rn_desc > 5 ORDER BY event_id""".stripMargin,
    "rx_all_any" ->
      """SELECT user_id,
        | bool_and(value < 400.0) AS all_below,
        | bool_or(event_type = 'error') AS any_error,
        | bool_or(event_type = 'purchase' AND value > 300.0) AS contains_big_purchase,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) = 0 AS purchases_empty
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_buffer_time" ->
      """SELECT user_id, epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        | count(*) AS buf_n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS buf_sum,
        | min(event_id) AS first_event_id, max(event_id) AS last_event_id
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bucket_ms""".stripMargin,
    "rx_repeat" ->
      """SELECT u.iteration, event_id, user_id, value
        |FROM events, unnest(generate_series(0, 2)) AS u(iteration)
        |ORDER BY iteration, event_id""".stripMargin,
    "rx_retry" ->
      """SELECT event_id, user_id, event_type, value,
        | CAST(n_errors AS BIGINT) AS n_errors FROM (
        | SELECT event_id, user_id, event_type, value,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_errors
        | FROM events)
        |WHERE n_errors <= 2 OR (n_errors = 3 AND event_type = 'error')
        |ORDER BY event_id""".stripMargin,
    "rx_retry_when" ->
      """WITH w AS (
        | SELECT event_id, user_id, event_type, value,
        |  CAST(sum(CASE WHEN event_type = 'error' AND value < 300.0
        |                THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS n_retried,
        |  CAST(sum(CASE WHEN event_type = 'error' AND NOT (value < 300.0)
        |                THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS n_fatal
        | FROM events)
        |SELECT event_id, user_id, event_type, value, n_retried,
        | (n_fatal = 1 OR n_retried = 3) AS terminal
        |FROM w
        |WHERE (n_fatal = 0 AND n_retried <= 2)
        |   OR (event_type = 'error' AND NOT (value < 300.0)
        |       AND n_fatal = 1 AND n_retried <= 2)
        |   OR (event_type = 'error' AND value < 300.0
        |       AND n_fatal = 0 AND n_retried = 3)
        |ORDER BY event_id""".stripMargin,
    "rx_window_count_skip" ->
      """SELECT user_id, w.window_id,
        | pos - w.window_id * 5 AS pos_in_window, event_id, value
        |FROM (
        | SELECT user_id, event_id, value,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
        |    AS BIGINT) AS pos
        | FROM events),
        | unnest(generate_series(
        |   greatest(0, CAST(ceil((pos - 9)/5.0) AS BIGINT)),
        |   CAST(floor(pos/5.0) AS BIGINT))) AS w(window_id)
        |ORDER BY user_id, window_id, pos_in_window""".stripMargin,
    "rx_sequence_equal" ->
      """WITH a AS (
        | SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS idx,
        |  CAST(floor(value/50) AS BIGINT) AS bucket_a
        | FROM events WHERE event_type = 'purchase'),
        |b AS (
        | SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS idx,
        |  CAST(floor(value/50) AS BIGINT) AS bucket_b
        | FROM events WHERE event_type = 'view')
        |SELECT user_id, count(bucket_a) AS n_a, count(bucket_b) AS n_b,
        | bool_and(bucket_a IS NOT NULL AND bucket_b IS NOT NULL
        |          AND bucket_a = bucket_b) AS seq_equal
        |FROM a FULL JOIN b USING (user_id, idx)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_interval_join" ->
      """SELECT p.user_id, p.event_id AS purchase_event_id,
        | c.event_id AS click_event_id,
        | epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
        |FROM events p JOIN events c ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 600000
        | AND epoch_ms(c.ts) <= epoch_ms(p.ts)
        |ORDER BY purchase_event_id, click_event_id""".stripMargin,
    "rx_window_boundary" ->
      """SELECT user_id, window_id, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS win_sum,
        | min(event_id) AS first_event_id, max(event_id) AS last_event_id
        |FROM (
        | SELECT user_id, event_id, event_type, value,
        |  coalesce(last_value(CASE WHEN event_type = 'signup' THEN event_id END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS window_id
        | FROM events)
        |WHERE event_type <> 'signup'
        |GROUP BY user_id, window_id ORDER BY user_id, window_id""".stripMargin,
    "rx_group_join" ->
      """SELECT user_id, purchase_event_id, count(*) AS n_clicks,
        | array_to_string(list_sort(list(click_event_id)), ',') AS click_ids
        |FROM (
        | SELECT p.user_id, p.event_id AS purchase_event_id,
        |  c.event_id AS click_event_id
        | FROM events p JOIN events c ON p.user_id = c.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 600000
        |  AND epoch_ms(c.ts) <= epoch_ms(p.ts))
        |GROUP BY user_id, purchase_event_id
        |ORDER BY purchase_event_id""".stripMargin,
    "asof_join" ->
      """SELECT event_id, user_id, purchase_value, click_event_id, click_value
        |FROM (
        | SELECT event_id, user_id, event_type, value AS purchase_value,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |   OVER w AS click_event_id,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER w AS click_value
        | FROM events WHERE event_type IN ('click','purchase')
        | WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "rx_on_error_resume" ->
      """WITH fe AS (
        | SELECT user_id, min(event_id) AS err_id FROM events
        | WHERE event_type = 'error' GROUP BY user_id)
        |SELECT * FROM (
        | SELECT e.event_id, e.user_id, e.event_type, e.value
        | FROM events e LEFT JOIN fe ON e.user_id = fe.user_id
        | WHERE fe.err_id IS NULL OR e.event_id < fe.err_id
        | UNION ALL
        | SELECT err_id AS event_id, user_id, 'fallback' AS event_type,
        |  0.0 AS value FROM fe)
        |ORDER BY user_id, event_id, event_type""".stripMargin,
    "rx_on_error_return" ->
      """SELECT event_id, user_id,
        | CASE WHEN event_type = 'error' THEN 'recovered' ELSE event_type END AS event_type,
        | CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "rx_materialize" ->
      """SELECT * FROM (
        | SELECT user_id, event_id,
        |  CASE WHEN event_type = 'error' THEN 'OnError' ELSE 'OnNext' END AS kind,
        |  value FROM events
        | UNION ALL
        | SELECT user_id, max(event_id)+1 AS event_id, 'OnCompleted' AS kind,
        |  0.0 AS value FROM events GROUP BY user_id)
        |ORDER BY user_id, event_id, kind""".stripMargin,
    // ---- relational ----
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_discount >= 0.05 AND l_discount <= 0.07
        | AND l_quantity < 24""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        | AND l_orderkey = o_orderkey
        | AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        | AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_semi_anti" ->
      """SELECT c_custkey,
        | CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  THEN 1 ELSE 0 END AS has_orders
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_topk_per_group" ->
      """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  row_number() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey) AS rn
        | FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_groupwise_max" ->
      """SELECT s_nationkey, s_suppkey, s_name, s_acctbal FROM (
        | SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
        |  row_number() OVER (PARTITION BY s_nationkey
        |    ORDER BY s_acctbal DESC, s_suppkey) AS rn
        | FROM supplier)
        |WHERE rn = 1 ORDER BY s_nationkey""".stripMargin,
    "q_topk_custom" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  row_number() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey) AS rn
        | FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, p_partkey""".stripMargin,
    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey
        |   AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "dq_benford" ->
      """WITH c AS (
        | SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |   AS BIGINT) AS cents
        | FROM lineitem),
        |d AS (
        | SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |   AS digit
        | FROM c WHERE cents > 0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        |SELECT digit, n,
        | n * 1000000 // total AS observed_ppm,
        | CAST(([301029, 176091, 124938, 96910, 79181, 66946, 57991,
        |   51152, 45757])[digit] AS BIGINT) AS expected_ppm,
        | abs(n * 1000000 // total -
        |  CAST(([301029, 176091, 124938, 96910, 79181, 66946, 57991,
        |    51152, 45757])[digit] AS BIGINT)) AS dev_ppm
        |FROM g, t ORDER BY digit""".stripMargin,
    "dq_check" ->
      """SELECT * FROM (
        | SELECT 'orders_fk_customer' AS check_name,
        |  count(*) AS n_violations
        | FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        | UNION ALL
        | SELECT 'lineitem_fk_orders', count(*)
        | FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        | UNION ALL
        | SELECT 'lineitem_qty_range', CAST(coalesce(sum(CASE
        |  WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END),
        |  0) AS BIGINT)
        | FROM lineitem
        | UNION ALL
        | SELECT 'lineitem_discount_range', CAST(coalesce(sum(CASE
        |  WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END),
        |  0) AS BIGINT)
        | FROM lineitem
        | UNION ALL
        | SELECT 'lineitem_pk_unique', CAST(coalesce(sum(cnt - 1), 0)
        |  AS BIGINT)
        | FROM (SELECT count(*) AS cnt FROM lineitem
        |  GROUP BY l_orderkey, l_linenumber) WHERE cnt > 1
        | UNION ALL
        | SELECT 'orders_pk_unique', CAST(coalesce(sum(cnt - 1), 0)
        |  AS BIGINT)
        | FROM (SELECT count(*) AS cnt FROM orders
        |  GROUP BY o_orderkey) WHERE cnt > 1
        | UNION ALL
        | SELECT 'orders_positive_total', CAST(coalesce(sum(CASE
        |  WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        | FROM orders)
        |ORDER BY check_name""".stripMargin,
    "dq_orphans" ->
      (Seq(
        ("lineitem.l_orderkey -> orders.o_orderkey",
          "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey -> part.p_partkey",
          "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey -> supplier.s_suppkey",
          "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey -> customer.c_custkey",
          "orders", "o_custkey", "customer", "c_custkey"))
        .map { case (rel, child, fk, parent, pk) =>
          s"""SELECT '$rel' AS relationship,
             | CAST(sum(cnt) AS BIGINT) AS n_child_rows,
             | CAST(count(*) AS BIGINT) AS n_distinct_fk,
             | CAST(coalesce(sum(CASE WHEN pk IS NULL THEN cnt END), 0)
             |   AS BIGINT) AS n_orphan_rows,
             | CAST(coalesce(sum(CASE WHEN pk IS NULL THEN 1 END), 0)
             |   AS BIGINT) AS n_orphan_keys
             |FROM (SELECT CAST($fk AS BIGINT) AS fk, count(*) AS cnt
             |      FROM $child GROUP BY 1) g
             |LEFT JOIN (SELECT CAST($pk AS BIGINT) AS pk FROM $parent) p
             | ON g.fk = p.pk""".stripMargin
        }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY relationship")),
    "dq_fd_check" ->
      (Seq(
        ("customer: c_custkey -> c_nationkey",
          "customer", "c_custkey", "c_nationkey"),
        ("customer: c_nationkey -> c_mktsegment",
          "customer", "c_nationkey", "c_mktsegment"),
        ("lineitem: l_partkey -> l_suppkey",
          "lineitem", "l_partkey", "l_suppkey"),
        ("lineitem: l_suppkey -> l_partkey",
          "lineitem", "l_suppkey", "l_partkey"),
        ("nation: n_nationkey -> n_regionkey",
          "nation", "n_nationkey", "n_regionkey"),
        ("orders: o_custkey -> o_orderpriority",
          "orders", "o_custkey", "o_orderpriority"))
        .map { case (fd, tbl, det, dep) =>
          s"""SELECT '$fd' AS fd,
             | CAST(count(*) AS BIGINT) AS n_groups,
             | CAST(coalesce(sum(CASE WHEN n_dep > 1 THEN 1 END), 0)
             |   AS BIGINT) AS n_violating,
             | CAST(coalesce(sum(CASE WHEN n_dep > 1 THEN 1 END), 0)
             |   * 1000000 // count(*) AS BIGINT) AS violation_ppm,
             | CAST(sum(rows_g) AS BIGINT) AS n_rows,
             | CAST(sum(rows_g - max_cnt) AS BIGINT) AS g3_rows
             |FROM (SELECT sum(cnt) AS rows_g, max(cnt) AS max_cnt,
             |       count(*) AS n_dep
             |      FROM (SELECT $det, $dep, count(*) AS cnt
             |            FROM $tbl GROUP BY 1, 2)
             |      GROUP BY $det)""".stripMargin
        }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY fd")),
    // band self-join: the oracle states the predicate directly
    // (DuckDB's IEJoin handles it); the engine's bucket replication
    // finds each qualifying pair exactly once — same pair set
    "q_band_join" ->
      """WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS id,
        |  CAST(s_nationkey AS BIGINT) AS nation,
        |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS bal FROM supplier)
        |SELECT s1.nation AS nation,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(abs(s1.bal - s2.bal)) AS BIGINT) AS sum_gap_cents,
        |  CAST(max(abs(s1.bal - s2.bal)) AS BIGINT) AS max_gap_cents,
        |  CAST(min(abs(s1.bal - s2.bal)) AS BIGINT) AS min_gap_cents
        |FROM s s1 JOIN s s2
        |  ON s1.nation = s2.nation AND s1.id < s2.id
        |  AND abs(s1.bal - s2.bal) <= 10000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // indexed band admission: the bucketed index finds EXACTLY the
    // within-eps same-nation peers, so the oracle states the direct
    // band predicate — bucketing is the engine's scale mechanism,
    // not part of the answer
    "q_band_admit_indexed" ->
      """WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS id,
        |  CAST(s_nationkey AS BIGINT) AS nation,
        |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS bal FROM supplier),
        |peers AS (SELECT * FROM s WHERE id % 10 <> 0),
        |wave AS (SELECT * FROM s WHERE id % 10 = 0),
        |v AS (
        | SELECT w.id, w.nation, w.bal,
        |  CAST(count(p.id) AS BIGINT) AS n_band_peers,
        |  CAST(coalesce(min(abs(w.bal - p.bal)), -1) AS BIGINT)
        |    AS min_gap_cents,
        |  CAST(coalesce(max(abs(w.bal - p.bal)), -1) AS BIGINT)
        |    AS max_gap_cents
        | FROM wave w LEFT JOIN peers p
        |  ON p.nation = w.nation AND p.id <> w.id
        |  AND abs(w.bal - p.bal) <= 10000
        | GROUP BY 1, 2, 3)
        |SELECT id, nation, bal, n_band_peers, min_gap_cents,
        | max_gap_cents, n_band_peers = 0 AS novel
        |FROM v ORDER BY id""".stripMargin,
    "q_null_aware_anti" ->
      """WITH blocked AS (
        | SELECT CASE WHEN o_custkey % 100 = 7 THEN NULL
        |   ELSE CAST(o_custkey AS BIGINT) END AS bk
        | FROM orders WHERE o_orderstatus = 'F'),
        |bvals AS (SELECT DISTINCT bk, 1 AS matched FROM blocked
        |  WHERE bk IS NOT NULL),
        |hn AS (SELECT max(CASE WHEN bk IS NULL THEN 1 ELSE 0 END)
        |  AS has_null FROM blocked)
        |SELECT c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(coalesce(sum(CASE WHEN matched IS NOT NULL THEN 1 END),
        |   0) AS BIGINT) AS n_in,
        | CAST(coalesce(sum(CASE WHEN matched IS NULL AND has_null = 1
        |   THEN 1 END), 0) AS BIGINT) AS n_unknown,
        | CAST(coalesce(sum(CASE WHEN matched IS NULL AND has_null = 0
        |   THEN 1 END), 0) AS BIGINT) AS n_not_in,
        | CAST(coalesce(sum(CASE WHEN matched IS NULL THEN 1 END), 0)
        |   AS BIGINT) AS n_not_exists
        |FROM customer
        |LEFT JOIN bvals ON c_custkey = bk
        |CROSS JOIN hn
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // same capped-adjacency estimator contract as graph_common_neighbors,
    // independent md5 seed family ("ra:"); weights are exact BIGINT
    // integer divisions over the capped supplier degree
    "graph_resource_alloc" ->
      """WITH d AS (
        | SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |   CAST(l_suppkey AS BIGINT) AS supp
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS (
        | SELECT cust, supp FROM (
        |  SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |    ORDER BY md5('ra:' || CAST(supp AS VARCHAR) || ':'
        |      || CAST(cust AS VARCHAR)), cust) AS rn
        |  FROM d) WHERE rn <= 64),
        |wt AS (SELECT supp,
        |  1000000 // CAST(count(*) AS BIGINT) AS w
        | FROM capped GROUP BY 1),
        |ww AS (SELECT c.cust, c.supp, w FROM capped c
        | JOIN wt ON wt.supp = c.supp)
        |SELECT x.cust AS cust1, y.cust AS cust2,
        | CAST(count(*) AS BIGINT) AS n_common,
        | CAST(sum(x.w) AS BIGINT) AS ra_ppm
        |FROM ww x JOIN ww y
        | ON x.supp = y.supp AND x.cust < y.cust
        |GROUP BY 1, 2
        |ORDER BY ra_ppm DESC, cust1, cust2 LIMIT 50""".stripMargin,
    // Adamic–Adar: RA's generator with the 1/⌊log2 deg⌋ witness
    // weight (exact bit-length log — Spark length(bin)−1, DuckDB
    // length(format('{:b}'))−1); degree-1 witnesses produce no pairs
    "graph_adamic_adar" ->
      """WITH d AS (
        | SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |   CAST(l_suppkey AS BIGINT) AS supp
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS (
        | SELECT cust, supp FROM (
        |  SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |    ORDER BY md5('aa:' || CAST(supp AS VARCHAR) || ':'
        |      || CAST(cust AS VARCHAR)), cust) AS rn
        |  FROM d) WHERE rn <= 64),
        |wt AS (SELECT supp,
        |  1000000 // CAST(length(format('{:b}',
        |    CAST(count(*) AS BIGINT))) - 1 AS BIGINT) AS w
        | FROM capped GROUP BY 1 HAVING count(*) >= 2),
        |ww AS (SELECT c.cust, c.supp, w FROM capped c
        | JOIN wt ON wt.supp = c.supp)
        |SELECT x.cust AS cust1, y.cust AS cust2,
        | CAST(count(*) AS BIGINT) AS n_common,
        | CAST(sum(x.w) AS BIGINT) AS aa_ppm
        |FROM ww x JOIN ww y
        | ON x.supp = y.supp AND x.cust < y.cust
        |GROUP BY 1, 2
        |ORDER BY aa_ppm DESC, cust1, cust2 LIMIT 50""".stripMargin,
    // preferential attachment: the oracle affords the full pair
    // space at gate SF; the engine provably never materializes it
    // (top-of-degree-table candidates + strict completeness bound)
    "graph_pref_attachment" ->
      """WITH d AS (
        | SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |   CAST(l_suppkey AS BIGINT) AS supp
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS (
        | SELECT cust, supp FROM (
        |  SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |    ORDER BY md5('pa:' || CAST(supp AS VARCHAR) || ':'
        |      || CAST(cust AS VARCHAR)), cust) AS rn
        |  FROM d) WHERE rn <= 64),
        |deg AS (SELECT cust, CAST(count(*) AS BIGINT) AS deg
        | FROM capped GROUP BY 1)
        |SELECT x.cust AS cust1, y.cust AS cust2,
        | x.deg AS deg1, y.deg AS deg2, x.deg * y.deg AS pa
        |FROM deg x JOIN deg y ON x.cust < y.cust
        |ORDER BY pa DESC, cust1, cust2 LIMIT 50""".stripMargin,
    "graph_pagerank" ->
      """WITH e0 AS (
        | SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
        |  count(*) AS w
        | FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | GROUP BY 1, 2),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
        | FROM e0 GROUP BY 1),
        |edges AS (
        | SELECT e0.src, e0.dst, e0.w * 1000000 // ow.ow AS frac_ppm
        | FROM e0 JOIN ow USING (src)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nation),
        |r0 AS (
        | SELECT CAST(n_nationkey AS BIGINT) AS node,
        |  1000000000000 // (SELECT n FROM nn) AS pr
        | FROM nation),
        |r1 AS (
        | SELECT nd.node,
        |  ((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |   + (coalesce(s.c, 0) * 85) // 100 AS pr
        | FROM (SELECT node FROM r0) nd LEFT JOIN (
        |  SELECT e.dst AS node,
        |   CAST(sum((r.pr * e.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM edges e JOIN r0 r ON e.src = r.node GROUP BY 1) s
        |  USING (node)),
        |r2 AS (
        | SELECT nd.node,
        |  ((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |   + (coalesce(s.c, 0) * 85) // 100 AS pr
        | FROM (SELECT node FROM r0) nd LEFT JOIN (
        |  SELECT e.dst AS node,
        |   CAST(sum((r.pr * e.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM edges e JOIN r1 r ON e.src = r.node GROUP BY 1) s
        |  USING (node)),
        |r3 AS (
        | SELECT nd.node,
        |  ((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |   + (coalesce(s.c, 0) * 85) // 100 AS pr
        | FROM (SELECT node FROM r0) nd LEFT JOIN (
        |  SELECT e.dst AS node,
        |   CAST(sum((r.pr * e.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM edges e JOIN r2 r ON e.src = r.node GROUP BY 1) s
        |  USING (node))
        |SELECT nt.n_name, r.pr AS rank_scaled,
        | CAST(r.pr AS DOUBLE) / 1e12 AS rank_norm
        |FROM r3 r JOIN nation nt
        | ON CAST(nt.n_nationkey AS BIGINT) = r.node
        |ORDER BY rank_scaled DESC, n_name""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(l_shipdate) AS l_year,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        | AND l_suppkey = s_suppkey
        | AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        | AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        | AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        | CAST(sum(CASE WHEN supp_nation = 'NATION_3'
        |   THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_revenue,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
        | CAST(sum(CASE WHEN supp_nation = 'NATION_3'
        |   THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
        |FROM (
        | SELECT o_orderdate, l_extendedprice, l_discount,
        |  n1.n_name AS supp_nation
        | FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
        | WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q9_profit" ->
      """SELECT n_name, year(o_orderdate) AS o_year,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |   - p_retailprice*l_quantity*0.5 AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem, orders, supplier, part, nation
        |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        | AND l_partkey = p_partkey AND s_nationkey = n_nationkey
        | AND p_type = 'STANDARD'
        |GROUP BY n_name, o_year ORDER BY n_name, o_year""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND c_nationkey = n_nationkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        | AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q12_priority_share" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        | AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q14_promo" ->
      """SELECT
        | CAST(sum(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
        | 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS promo_pct
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        | AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        | SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        | FROM lineitem GROUP BY l_orderkey
        | HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        | epoch_ms(o_orderdate) AS o_orderdate_ms, o_totalprice,
        | CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM big, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive" ->
      """SELECT
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |   AND l_quantity BETWEEN 1 AND 20) OR
        |  (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |   AND l_quantity BETWEEN 10 AND 30) OR
        |  (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |   AND l_quantity BETWEEN 20 AND 40))""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        | GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY c_count""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        | SELECT l_suppkey,
        |  sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM rev, supplier
        |WHERE l_suppkey = s_suppkey
        | AND total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        | count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps, part
        |WHERE l_partkey = p_partkey AND p_brand <> 'Brand#5'
        | AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        | AND l_suppkey NOT IN (
        |   SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY p_brand, p_type, p_size""".stripMargin,
    "q17_small_quantity" ->
      """WITH li AS (
        | SELECT l_partkey, l_quantity, l_extendedprice
        | FROM lineitem, part
        | WHERE l_partkey = p_partkey AND p_brand = 'Brand#4'),
        |av AS (
        | SELECT l_partkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_qty
        | FROM li GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/7.0 AS avg_yearly
        |FROM li JOIN av USING (l_partkey)
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/count(*)
        |  FROM customer WHERE c_acctbal > 0)
        | AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.5) AS p50,
        | quantile_cont(l_extendedprice, 0.95) AS p95,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // ---- pipeline ops ----
    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS content_hash,
        | min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, cos_sim,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS rank
        | FROM s)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // both graph keys re-derive the capacity-capped assignment
    // (dynamic nlist = ceil(n/200), 3 unrolled deferred-acceptance
    // rounds — the emb_capped_assign CTE family generalized), then
    // run the within-cluster kNN on the assigned clusters
    "ann_knn_graph" ->
      (cappedAsgSql +
      """,
        |mem AS (
        | SELECT a.centroid_id AS cluster_id, a.vec_id, e.embedding
        | FROM asg a JOIN embeddings e USING (vec_id)),
        |p AS (
        | SELECT a.cluster_id, a.vec_id AS src_id, b.vec_id AS dst_id,
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(a.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(b.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM mem a JOIN mem b
        |  ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id),
        |r AS (
        | SELECT cluster_id, src_id, dst_id, cos_sim,
        |  row_number() OVER (PARTITION BY src_id
        |    ORDER BY cos_sim DESC, dst_id) AS rank
        | FROM p)
        |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, src_id,
        | CAST(rank AS BIGINT) AS rank, dst_id, cos_sim
        |FROM r WHERE rank <= 5 ORDER BY src_id, rank""".stripMargin),
    "ann_hubness" ->
      (cappedAsgSql +
      """,
        |mem AS (
        | SELECT a.centroid_id AS cluster_id, a.vec_id, e.embedding
        | FROM asg a JOIN embeddings e USING (vec_id)),
        |p AS (
        | SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(a.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(b.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM mem a JOIN mem b
        |  ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id),
        |r AS (
        | SELECT src_id, dst_id,
        |  row_number() OVER (PARTITION BY src_id
        |    ORDER BY cos_sim DESC, dst_id) AS rank
        | FROM p),
        |ind AS (
        | SELECT dst_id AS vec_id, count(*) AS in_degree
        | FROM r WHERE rank <= 5 GROUP BY 1),
        |alln AS (
        | SELECT a.vec_id, coalesce(ind.in_degree, 0) AS in_degree
        | FROM asg a LEFT JOIN ind ON a.vec_id = ind.vec_id)
        |SELECT CAST(in_degree AS BIGINT) AS in_degree,
        | count(*) AS n_vecs
        |FROM alln GROUP BY 1 ORDER BY in_degree""".stripMargin),
    // SPANN-shaped graph ANN: route to the 4 nearest centroid
    // partitions, enter at each one's min-id member, 3 unrolled
    // beam rounds (top-16 by cos desc, id) over the same capped kNN
    // graph ann_knn_graph gates, final top-5 with self excluded
    "ann_graph_search" ->
      (graphSearchCtes +
      """
        |SELECT query_id, CAST(rank AS BIGINT) AS rank,
        | vec_id AS neighbor_id, cos_sim
        |FROM fin WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // recall@5 of the beam walk vs exact brute force — the audit
    // that prices the beam/hops budget; overlap of two 10×5 frames
    "ann_graph_recall" ->
      (graphSearchCtes +
      """,
        |gs AS (SELECT query_id, vec_id AS neighbor_id
        | FROM fin WHERE rank <= 5),
        |bs AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q.q_emb, e.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q.q_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM qs q, embeddings e WHERE e.vec_id <> q.query_id),
        |br AS (SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS rank
        | FROM bs),
        |ex AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
        |m AS (
        | SELECT e.query_id, count(*) AS n_match
        | FROM ex e JOIN gs g
        |  ON g.query_id = e.query_id AND g.neighbor_id = e.neighbor_id
        | GROUP BY 1)
        |SELECT x.query_id, coalesce(m.n_match, 0) AS n_match,
        | CAST(coalesce(m.n_match, 0) AS DOUBLE) / x.n_exact AS recall
        |FROM (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1) x
        |LEFT JOIN m USING (query_id)
        |ORDER BY query_id""".stripMargin),
    "emb_outliers" ->
      """WITH c AS (
        | SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        |  CAST(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6)
        |    AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) / 1e6 AS m
        | FROM embeddings,
        |  unnest(generate_series(1, len(embedding))) AS g(i)
        | GROUP BY label, i),
        |ce AS (
        | SELECT label, list(CAST(m AS REAL) ORDER BY dim) AS c_emb
        | FROM c GROUP BY label),
        |s AS (
        | SELECT ce.label, e.vec_id,
        |  list_sum(list_transform(list_zip(e.embedding, ce.c_emb),
        |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(ce.c_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |   AS cos_to_centroid
        | FROM embeddings e JOIN ce ON CAST(e.label AS BIGINT) = ce.label),
        |r AS (
        | SELECT label, vec_id, cos_to_centroid,
        |  row_number() OVER (PARTITION BY label
        |    ORDER BY cos_to_centroid ASC, vec_id) AS rank_in_label,
        |  count(*) OVER (PARTITION BY label) AS n_label
        | FROM s)
        |SELECT label, vec_id, cos_to_centroid,
        | CAST(rank_in_label AS BIGINT) AS rank_in_label
        |FROM r WHERE rank_in_label <= n_label // 10
        |ORDER BY label, rank_in_label""".stripMargin,
    "rx_forecast_backtest" ->
      """WITH daily AS (
        | SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        | FROM events GROUP BY 1, 2),
        |j AS (
        | SELECT a.event_type, a.cents AS y, b.cents AS pred
        | FROM daily a JOIN daily b
        |  ON b.event_type = a.event_type AND b.day = a.day - 7),
        |m AS (
        | SELECT event_type, count(*) AS n_days,
        |  sum(abs(y - pred)) AS abs_err,
        |  sum(pred - y) AS signed_err,
        |  sum(abs(y)) AS abs_actual
        | FROM j GROUP BY 1)
        |SELECT event_type, n_days,
        | CAST(abs_err * 1000000 // abs_actual AS BIGINT) AS wape_ppm,
        | CAST(signed_err * 1000000 // abs_actual AS BIGINT) AS bias_ppm
        |FROM m WHERE abs_actual > 0 ORDER BY event_type""".stripMargin,
    "text_length_powerlaw" ->
      """WITH b AS (
        | SELECT CAST(length(bin(n_chars)) - 1 AS BIGINT) AS log2_bucket,
        |  n_chars
        | FROM documents WHERE n_chars > 0)
        |SELECT log2_bucket, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1 ORDER BY log2_bucket""".stripMargin,
    "text_readability" ->
      """WITH w AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |wa AS (
        | SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(length(tok)) AS BIGINT) AS word_chars
        | FROM w WHERE tok <> '' GROUP BY 1),
        |sa AS (
        | SELECT doc_id,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |    AS BIGINT) AS n_sentences
        | FROM documents)
        |SELECT sa.doc_id, sa.n_sentences, wa.n_words, wa.word_chars,
        | wa.n_words * 1000 // sa.n_sentences
        |  AS words_per_sentence_milli,
        | wa.word_chars * 1000 // wa.n_words AS chars_per_word_milli
        |FROM sa JOIN wa USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "rx_interarrival_hist" ->
      """WITH g AS (
        | SELECT event_type, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |    ORDER BY event_id) AS prev
        | FROM events)
        |SELECT event_type,
        | CAST(length(bin(ms - prev)) - 1 AS BIGINT) AS log2_bucket,
        | count(*) AS n
        |FROM g WHERE prev IS NOT NULL AND ms > prev
        |GROUP BY 1, 2 ORDER BY event_type, log2_bucket""".stripMargin,
    "pipeline_balanced_shards" ->
      """WITH sized AS (
        | SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT)
        |   AS n_tokens
        | FROM documents),
        |ranked AS (
        | SELECT n_tokens,
        |  row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
        | FROM sized),
        |assigned AS (
        | SELECT n_tokens,
        |  CASE WHEN (r // 8) % 2 = 0 THEN r % 8
        |   ELSE 7 - r % 8 END AS shard
        | FROM ranked),
        |grand AS (SELECT sum(n_tokens) AS g FROM sized)
        |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | CAST(abs(sum(n_tokens) * 8 - g) * 1000000 // g AS BIGINT)
        |  AS dev_ppm
        |FROM assigned, grand GROUP BY shard, g
        |ORDER BY shard""".stripMargin,
    "text_fertility" ->
      """WITH t AS (
        | SELECT lang,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws,
        |  CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |    t -> CAST(ceil(length(t)/4.0) AS BIGINT))) AS BIGINT) AS sub
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(ws) AS BIGINT) AS ws_tokens,
        | CAST(sum(sub) AS BIGINT) AS subword_pieces,
        | CAST(sum(sub) * 1000 // sum(ws) AS BIGINT) AS fertility_milli
        |FROM t GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_top_growth" ->
      """WITH li AS (
        | SELECT l_partkey, epoch_ms(o_orderdate) AS ms,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |mid AS (SELECT (min(ms) + max(ms)) // 2 AS mid_ms FROM li),
        |h AS (
        | SELECT l_partkey,
        |  CAST(sum(CASE WHEN ms < mid_ms THEN cents ELSE 0 END)
        |    AS BIGINT) AS r1,
        |  CAST(sum(CASE WHEN ms >= mid_ms THEN cents ELSE 0 END)
        |    AS BIGINT) AS r2
        | FROM li, mid GROUP BY 1),
        |g AS (
        | SELECT l_partkey, r1, r2,
        |  CAST(CAST(r2 - r1 AS HUGEINT) * 1000000 // r1 AS BIGINT)
        |   AS growth_ppm
        | FROM h WHERE r1 >= 100000)
        |SELECT * FROM g
        |ORDER BY growth_ppm DESC, l_partkey LIMIT 50""".stripMargin,
    "rx_anomaly_path" ->
      """WITH p AS (
        | SELECT user_id, event_type AS to_state,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |   AS from_state
        | FROM events),
        |pairs AS (SELECT * FROM p WHERE from_state IS NOT NULL),
        |c AS (
        | SELECT from_state, to_state, count(*) AS n
        | FROM pairs GROUP BY 1, 2),
        |t AS (SELECT from_state, sum(n) AS tot FROM c GROUP BY 1),
        |probs AS (
        | SELECT c.from_state, c.to_state,
        |  CAST(n * 1000000 // tot AS BIGINT) AS prob_ppm
        | FROM c JOIN t USING (from_state)),
        |u AS (
        | SELECT user_id, count(*) AS n_transitions,
        |  min(struct_pack(p := prob_ppm, f := pr.from_state,
        |    t2 := pr.to_state)) AS w
        | FROM pairs pr JOIN probs USING (from_state, to_state)
        | GROUP BY 1)
        |SELECT user_id, n_transitions,
        | CAST(w.p AS BIGINT) AS min_prob_ppm,
        | w.f AS rare_from, w.t2 AS rare_to
        |FROM u ORDER BY min_prob_ppm, user_id LIMIT 20""".stripMargin,
    "rx_stage_latency" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |f1 AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ms END) AS t1
        | FROM e GROUP BY 1),
        |f2 AS (
        | SELECT f1.user_id, f1.t1,
        |  min(CASE WHEN e.event_type = 'click' AND e.ms > f1.t1
        |    THEN e.ms END) AS t2
        | FROM f1 JOIN e USING (user_id) GROUP BY 1, 2),
        |f3 AS (
        | SELECT f2.user_id, f2.t1, f2.t2,
        |  min(CASE WHEN e.event_type = 'purchase' AND e.ms > f2.t2
        |    THEN e.ms END) AS t3
        | FROM f2 JOIN e USING (user_id) GROUP BY 1, 2, 3),
        |g AS (
        | SELECT 'view->click' AS stage, t2 - t1 AS gap FROM f3
        | WHERE t2 IS NOT NULL
        | UNION ALL
        | SELECT 'click->purchase', t3 - t2 FROM f3
        | WHERE t3 IS NOT NULL)
        |SELECT stage, count(*) AS n,
        | CAST(sum(gap) // count(*) AS BIGINT) AS mean_ms,
        | quantile_cont(gap, 0.5) AS p50_ms
        |FROM g GROUP BY 1 ORDER BY stage""".stripMargin,
    "text_code_detect" ->
      """WITH b AS (
        | SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text,
        |    '[^{}()\[\];=<>|&]', '', 'g')) AS BIGINT) AS n_sym,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(regexp_extract_all(text,
        |    chr(10) || '[ ' || chr(9) || ']{2,}')) AS BIGINT)
        |   AS n_indent
        | FROM documents WHERE length(text) > 0)
        |SELECT doc_id, n_chars,
        | n_sym * 1000000 // n_chars AS symbol_ppm,
        | n_lines, n_indent,
        | (n_sym * 1000000 // n_chars > 40000
        |  OR (n_lines > 3 AND n_indent * 2 > n_lines)) AS looks_code
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_customer_migration" ->
      """WITH ord AS (
        | SELECT o_custkey, epoch_ms(o_orderdate) AS ms,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   AS cents
        | FROM orders),
        |mid AS (SELECT (min(ms) + max(ms)) // 2 AS mid_ms FROM ord),
        |halves AS (
        | SELECT o_custkey,
        |  CASE WHEN ms < mid_ms THEN 1 ELSE 2 END AS half,
        |  sum(cents) AS cents
        | FROM ord, mid GROUP BY 1, 2),
        |cuts AS (
        | SELECT half,
        |  quantile_cont(CAST(cents AS DOUBLE), 0.25) AS q1,
        |  quantile_cont(CAST(cents AS DOUBLE), 0.5) AS q2,
        |  quantile_cont(CAST(cents AS DOUBLE), 0.75) AS q3
        | FROM halves GROUP BY 1),
        |seg AS (
        | SELECT o_custkey, h.half,
        |  1 + CAST(cents > q1 AS INT) + CAST(cents > q2 AS INT)
        |    + CAST(cents > q3 AS INT) AS seg
        | FROM halves h JOIN cuts USING (half)),
        |m AS (
        | SELECT coalesce(a.seg, 0) AS seg_h1,
        |  coalesce(b.seg, 0) AS seg_h2
        | FROM (SELECT o_custkey, seg FROM seg WHERE half = 1) a
        | FULL OUTER JOIN
        |  (SELECT o_custkey, seg FROM seg WHERE half = 2) b
        |  USING (o_custkey))
        |SELECT CAST(seg_h1 AS BIGINT) AS seg_h1,
        | CAST(seg_h2 AS BIGINT) AS seg_h2,
        | count(*) AS n_customers
        |FROM m GROUP BY 1, 2 ORDER BY seg_h1, seg_h2""".stripMargin,
    "rx_slo_burn" ->
      """WITH m AS (
        | SELECT epoch_ms(ts) // 60000 AS minute,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err,
        |  count(*) AS tot
        | FROM events GROUP BY 1),
        |w AS (
        | SELECT minute,
        |  CAST(sum(err) OVER (ORDER BY minute
        |    RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS err_60m,
        |  CAST(sum(tot) OVER (ORDER BY minute
        |    RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS tot_60m
        | FROM m)
        |SELECT minute, err_60m, tot_60m,
        | err_60m * 1000000 // tot_60m AS err_ppm
        |FROM w WHERE err_60m * 1000000 > 300000 * tot_60m
        |ORDER BY minute""".stripMargin,
    "q_scd2_asof" ->
      """WITH cust AS (SELECT c_custkey, c_acctbal FROM customer),
        |closed AS (SELECT c_custkey, c_acctbal + 50.0 AS bal,
        |  CAST(0 AS BIGINT) AS vf, CAST(50 AS BIGINT) AS vt
        | FROM cust WHERE c_custkey % 4 = 0),
        |cur AS (SELECT c_custkey, c_acctbal AS bal,
        |  CAST(CASE WHEN c_custkey % 4 = 0 THEN 50 ELSE 0 END AS BIGINT)
        |    AS vf,
        |  CAST(NULL AS BIGINT) AS vt FROM cust),
        |base AS (SELECT * FROM closed UNION ALL SELECT * FROM cur),
        |upd AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 6 = 0 THEN c_acctbal
        |       ELSE c_acctbal + 100.0 END AS u
        | FROM cust WHERE c_custkey % 3 = 0
        | UNION ALL
        | SELECT c_custkey + 100000000 AS c_custkey, c_acctbal AS u
        | FROM cust WHERE c_custkey % 10 = 0),
        |merged AS (
        | SELECT b.c_custkey, b.bal, b.vf, b.vt
        | FROM base b LEFT JOIN upd u USING (c_custkey)
        | WHERE NOT (b.vt IS NULL AND u.u IS NOT NULL AND u.u <> b.bal)
        | UNION ALL
        | SELECT b.c_custkey, b.bal, b.vf, CAST(100 AS BIGINT)
        | FROM base b JOIN upd u USING (c_custkey)
        | WHERE b.vt IS NULL AND u.u <> b.bal
        | UNION ALL
        | SELECT b.c_custkey, u.u, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        | FROM base b JOIN upd u USING (c_custkey)
        | WHERE b.vt IS NULL AND u.u <> b.bal
        | UNION ALL
        | SELECT u.c_custkey, u.u, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        | FROM upd u
        | WHERE u.c_custkey NOT IN (SELECT c_custkey FROM base))
        |SELECT CAST(25 AS BIGINT) AS snap_t, c_custkey, bal
        |FROM merged WHERE vf <= 25 AND (vt IS NULL OR vt > 25)
        |UNION ALL
        |SELECT CAST(100 AS BIGINT), c_custkey, bal
        |FROM merged WHERE vf <= 100 AND (vt IS NULL OR vt > 100)
        |ORDER BY snap_t, c_custkey""".stripMargin,
    "emb_dim_profile" ->
      """WITH x AS (
        | SELECT CAST(i - 1 AS BIGINT) AS dim,
        |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS s,
        |  CAST(embedding[i] AS DOUBLE) AS xv
        | FROM embeddings,
        |  unnest(generate_series(1, len(embedding))) AS g(i)),
        |m AS (
        | SELECT dim, count(*) AS n,
        |  CAST(sum(s) AS BIGINT) AS s1,
        |  sum(CAST(s AS HUGEINT) * s) AS s2,
        |  min(xv) AS min_x, max(xv) AS max_x
        | FROM x GROUP BY 1)
        |SELECT dim, n,
        | CAST(s1 AS DOUBLE) / n / 1e6 AS mean,
        | CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
        |  / n / n / 1e12 AS variance,
        | min_x, max_x
        |FROM m ORDER BY dim""".stripMargin,
    "rx_stickiness" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        | FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |mw AS (
        | SELECT DISTINCT user_id, ud.day + g.i AS wday
        | FROM ud, unnest(generate_series(0, 29)) AS g(i)),
        |mau AS (SELECT wday AS day, count(*) AS mau FROM mw GROUP BY 1)
        |SELECT d.day, d.dau, m.mau,
        | d.dau * 1000000 // m.mau AS stickiness_ppm
        |FROM dau d JOIN mau m USING (day) ORDER BY day""".stripMargin,
    "emb_cluster_quality" ->
      """WITH c AS (
        | SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        |  CAST(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6)
        |    AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) / 1e6 AS m
        | FROM embeddings,
        |  unnest(generate_series(1, len(embedding))) AS g(i)
        | GROUP BY label, i),
        |ce AS (
        | SELECT label, list(CAST(m AS REAL) ORDER BY dim) AS c_emb
        | FROM c GROUP BY label),
        |sv AS (
        | SELECT ce.label,
        |  CAST(floor((list_sum(list_transform(
        |     list_zip(e.embedding, ce.c_emb),
        |     z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |   / sqrt(list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |      * list_sum(list_transform(ce.c_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) * 1e9)
        |   AS BIGINT) AS s
        | FROM embeddings e JOIN ce ON CAST(e.label AS BIGINT) = ce.label),
        |iagg AS (
        | SELECT label, count(*) AS n, sum(s) AS intra_sum
        | FROM sv GROUP BY 1),
        |p AS (
        | SELECT a.label, b.label AS other_label,
        |  list_sum(list_transform(list_zip(a.c_emb, b.c_emb),
        |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(a.c_emb,
        |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(b.c_emb,
        |       x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS sim
        | FROM ce a JOIN ce b ON a.label <> b.label),
        |nn AS (
        | SELECT label, other_label AS nearest_label,
        |  sim AS nearest_centroid_sim
        | FROM (SELECT label, other_label, sim, row_number() OVER (
        |    PARTITION BY label ORDER BY sim DESC, other_label) AS r
        |   FROM p) WHERE r = 1)
        |SELECT i.label, i.n,
        | CAST(i.intra_sum // i.n AS BIGINT) AS mean_intra_nano,
        | nn.nearest_label, nn.nearest_centroid_sim
        |FROM iagg i JOIN nn USING (label) ORDER BY label""".stripMargin,
    "ann_knn_classify" ->
      """WITH q AS (
        | SELECT vec_id AS query_id, CAST(label AS BIGINT) AS true_label,
        |  embedding AS q_emb
        | FROM embeddings WHERE vec_id < 50),
        |s AS (
        | SELECT query_id, e.vec_id AS neighbor_id,
        |  CAST(e.label AS BIGINT) AS n_label,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (
        | SELECT query_id, n_label,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS rank
        | FROM s),
        |v AS (
        | SELECT query_id, n_label, count(*) AS votes
        | FROM r WHERE rank <= 5 GROUP BY 1, 2),
        |p AS (
        | SELECT query_id, n_label AS pred_label FROM (
        |  SELECT query_id, n_label,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY votes DESC, n_label) AS rr
        |  FROM v) WHERE rr = 1)
        |SELECT q.true_label, count(*) AS n,
        | CAST(sum(CASE WHEN p.pred_label = q.true_label
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        | CAST(sum(CASE WHEN p.pred_label = q.true_label
        |   THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |  AS accuracy_ppm
        |FROM q JOIN p ON p.query_id = q.query_id
        |GROUP BY 1 ORDER BY true_label""".stripMargin,
    "ann_truncation" ->
      """WITH q AS (
        | SELECT vec_id AS query_id, embedding AS q_emb
        | FROM embeddings WHERE vec_id < 10),
        |fs AS (
        | SELECT query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |fr AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
        |   AS rank FROM fs) WHERE rank <= 5),
        |ts AS (
        | SELECT query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(
        |    list_zip(q_emb[1:32], e.embedding[1:32]),
        |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb[1:32],
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(e.embedding[1:32],
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |tr AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
        |   AS rank FROM ts) WHERE rank <= 5),
        |kept AS (
        | SELECT fr.query_id, count(*) AS n_kept
        | FROM fr JOIN tr USING (query_id, neighbor_id)
        | GROUP BY 1)
        |SELECT q.query_id,
        | CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
        | CAST(coalesce(kept.n_kept, 0) * 1000000 // 5 AS BIGINT)
        |  AS recall_ppm
        |FROM q LEFT JOIN kept ON kept.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    "q_abc_pareto" ->
      """WITH r AS (
        | SELECT o_custkey,
        |  sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS cents
        | FROM orders GROUP BY 1),
        |c AS (
        | SELECT o_custkey, cents,
        |  coalesce(sum(cents) OVER (ORDER BY cents DESC, o_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS cum_before
        | FROM r),
        |t AS (SELECT sum(cents) AS tot FROM r),
        |k AS (
        | SELECT CASE WHEN cum_before * 100 < 70 * tot THEN 'A'
        |   WHEN cum_before * 100 < 90 * tot THEN 'B'
        |   ELSE 'C' END AS abc_class, cents
        | FROM c, t)
        |SELECT abc_class, count(*) AS n_customers,
        | CAST(sum(cents) AS BIGINT) AS revenue_cents,
        | CAST(sum(cents) * 1000000 // tot AS BIGINT) AS share_ppm
        |FROM k, t GROUP BY abc_class, tot
        |ORDER BY abc_class""".stripMargin,
    "graph_degree_hist" ->
      """WITH d AS (
        | SELECT DISTINCT o_custkey, l_suppkey
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (
        | SELECT o_custkey, count(*) AS degree FROM d GROUP BY 1)
        |SELECT degree, count(*) AS n_customers
        |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin,
    // capped adjacency re-derived from the same md5 order; jaccard
    // over the capped sets is the documented estimator
    "graph_common_neighbors" ->
      """WITH d AS (
        | SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |   CAST(l_suppkey AS BIGINT) AS supp
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS (
        | SELECT cust, supp FROM (
        |  SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |    ORDER BY md5('cn:' || CAST(supp AS VARCHAR) || ':'
        |      || CAST(cust AS VARCHAR)), cust) AS rn
        |  FROM d) WHERE rn <= 64),
        |deg AS (SELECT cust, CAST(count(*) AS BIGINT) AS deg
        | FROM capped GROUP BY 1),
        |pairs AS (
        | SELECT x.cust AS cust1, y.cust AS cust2,
        |  CAST(count(*) AS BIGINT) AS n_common
        | FROM capped x JOIN capped y
        |  ON x.supp = y.supp AND x.cust < y.cust
        | GROUP BY 1, 2)
        |SELECT cust1, cust2, n_common, d1.deg AS deg1, d2.deg AS deg2,
        | CAST(n_common * 1000000 // (d1.deg + d2.deg - n_common)
        |   AS BIGINT) AS jaccard_ppm
        |FROM pairs JOIN deg d1 ON d1.cust = cust1
        | JOIN deg d2 ON d2.cust = cust2
        |ORDER BY jaccard_ppm DESC, cust1, cust2 LIMIT 50""".stripMargin,
    // ---- md5 ("auditable") hash-family oracles: DuckDB re-derives
    // the LSH buckets / signatures exactly (md5 is md5 everywhere;
    // mins compare as ASCII hex; dot products are scaled-integer) ----
    "dedup_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |post AS (
        |  SELECT doc_id, s.s FROM sh, unnest(sh.sh) AS s(s)),
        |hv AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM post),
        |seeds AS (
        |  SELECT j.j AS j,
        |    1 + (('0x' || substr(md5('a:' || j.j), 1, 15))::BIGINT
        |         % 2147483646) AS a,
        |    ('0x' || substr(md5('b:' || j.j), 1, 15))::BIGINT
        |      % 2147483647 AS b
        |  FROM range(0, 64) j(j)),
        |mins AS (
        |  SELECT doc_id, j, min((a * h + b) % 2147483647) AS m
        |  FROM hv, seeds GROUP BY doc_id, j),
        |bands AS (
        |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |    ('0x' || substr(md5(array_to_string(
        |      list(CAST(m AS VARCHAR) ORDER BY j), '|')), 1, 15))::BIGINT AS bh
        |  FROM mins GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        |  FROM bands l JOIN bands r USING (band, bh)
        |  WHERE l.doc_id < r.doc_id),
        |dsh AS (
        |  SELECT doc_id, list_distinct(sh) AS ds FROM sh),
        |verified AS (
        |  SELECT doc1, doc2,
        |    CAST(len(list_intersect(a.ds, b.ds)) AS DOUBLE) /
        |      (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds))) AS jaccard
        |  FROM cand JOIN dsh a ON a.doc_id = doc1 JOIN dsh b ON b.doc_id = doc2)
        |SELECT doc1, doc2, jaccard FROM verified WHERE jaccard >= 0.5
        |ORDER BY doc1, doc2""".stripMargin,
    // same md5-family minima as dedup_minhash_lsh; estimate = count
    // of equal components (band keys at rows=1 are md5-injective
    // images of the minima, so the counts agree)
    "dedup_est_audit" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |post AS (
        |  SELECT doc_id, s.s FROM sh, unnest(sh.sh) AS s(s)),
        |hv AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM post),
        |seeds AS (
        |  SELECT j.j AS j,
        |    1 + (('0x' || substr(md5('a:' || j.j), 1, 15))::BIGINT
        |         % 2147483646) AS a,
        |    ('0x' || substr(md5('b:' || j.j), 1, 15))::BIGINT
        |      % 2147483647 AS b
        |  FROM range(0, 64) j(j)),
        |mins AS (
        |  SELECT doc_id, j, min((a * h + b) % 2147483647) AS m
        |  FROM hv, seeds GROUP BY doc_id, j),
        |bands AS (
        |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |    ('0x' || substr(md5(array_to_string(
        |      list(CAST(m AS VARCHAR) ORDER BY j), '|')), 1, 15))::BIGINT AS bh
        |  FROM mins GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        |  FROM bands l JOIN bands r USING (band, bh)
        |  WHERE l.doc_id < r.doc_id),
        |est AS (
        |  SELECT doc1, doc2,
        |    CAST(sum(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS matches
        |  FROM cand
        |  JOIN mins m1 ON m1.doc_id = doc1
        |  JOIN mins m2 ON m2.doc_id = doc2 AND m2.j = m1.j
        |  GROUP BY doc1, doc2),
        |dsh AS (
        |  SELECT doc_id, list_distinct(sh) AS ds FROM sh),
        |x AS (
        |  SELECT e.doc1, e.doc2, matches * 1000000 // 64 AS est_ppm,
        |    len(list_intersect(a.ds, b.ds)) * 1000000
        |      // (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds)))
        |      AS exact_ppm
        |  FROM est e JOIN dsh a ON a.doc_id = e.doc1
        |    JOIN dsh b ON b.doc_id = e.doc2)
        |SELECT CAST(abs(est_ppm - exact_ppm) // 100000 AS BIGINT)
        |    AS err_decile,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // same md5-family LSH candidates at threshold 0; exact Jaccard
    // banded to deci-bands, cumulative sums over the 11-row frame
    "dedup_threshold_sweep" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |post AS (
        |  SELECT doc_id, s.s FROM sh, unnest(sh.sh) AS s(s)),
        |hv AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM post),
        |seeds AS (
        |  SELECT j.j AS j,
        |    1 + (('0x' || substr(md5('a:' || j.j), 1, 15))::BIGINT
        |         % 2147483646) AS a,
        |    ('0x' || substr(md5('b:' || j.j), 1, 15))::BIGINT
        |      % 2147483647 AS b
        |  FROM range(0, 64) j(j)),
        |mins AS (
        |  SELECT doc_id, j, min((a * h + b) % 2147483647) AS m
        |  FROM hv, seeds GROUP BY doc_id, j),
        |bands AS (
        |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |    ('0x' || substr(md5(array_to_string(
        |      list(CAST(m AS VARCHAR) ORDER BY j), '|')), 1, 15))::BIGINT AS bh
        |  FROM mins GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        |  FROM bands l JOIN bands r USING (band, bh)
        |  WHERE l.doc_id < r.doc_id),
        |dsh AS (
        |  SELECT doc_id, list_distinct(sh) AS ds FROM sh),
        |scored AS (
        |  SELECT doc1, doc2,
        |    CAST(len(list_intersect(a.ds, b.ds)) * 1000000 //
        |      (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds)))
        |      AS BIGINT) AS j_ppm
        |  FROM cand JOIN dsh a ON a.doc_id = doc1
        |    JOIN dsh b ON b.doc_id = doc2),
        |pb AS (SELECT j_ppm // 100000 AS band,
        |  CAST(count(*) AS BIGINT) AS n_pairs FROM scored GROUP BY 1),
        |dm AS (SELECT doc_id, max(j_ppm) AS mx FROM (
        |  SELECT doc1 AS doc_id, j_ppm FROM scored
        |  UNION ALL SELECT doc2, j_ppm FROM scored) GROUP BY 1),
        |db AS (SELECT mx // 100000 AS band,
        |  CAST(count(*) AS BIGINT) AS n_docs_best FROM dm GROUP BY 1),
        |bandsf AS (SELECT CAST(b.b AS BIGINT) AS band FROM range(0, 11) b(b))
        |SELECT band,
        |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(sum(coalesce(n_pairs, 0)) OVER (ORDER BY band DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_pairs,
        |  CAST(sum(coalesce(n_docs_best, 0)) OVER (ORDER BY band DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_docs_affected
        |FROM bandsf LEFT JOIN pb USING (band) LEFT JOIN db USING (band)
        |ORDER BY band""".stripMargin,
    // exact side: md5-15 posting self-join over distinct shingles;
    // LSH side: the same md5-family candidates as dedup_minhash_lsh
    "dedup_recall_audit" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |post AS (
        |  SELECT doc_id, s.s FROM sh, unnest(sh.sh) AS s(s)),
        |hv AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM post),
        |seeds AS (
        |  SELECT j.j AS j,
        |    1 + (('0x' || substr(md5('a:' || j.j), 1, 15))::BIGINT
        |         % 2147483646) AS a,
        |    ('0x' || substr(md5('b:' || j.j), 1, 15))::BIGINT
        |      % 2147483647 AS b
        |  FROM range(0, 64) j(j)),
        |mins AS (
        |  SELECT doc_id, j, min((a * h + b) % 2147483647) AS m
        |  FROM hv, seeds GROUP BY doc_id, j),
        |bands AS (
        |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |    ('0x' || substr(md5(array_to_string(
        |      list(CAST(m AS VARCHAR) ORDER BY j), '|')), 1, 15))::BIGINT AS bh
        |  FROM mins GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        |  FROM bands l JOIN bands r USING (band, bh)
        |  WHERE l.doc_id < r.doc_id),
        |dsh AS (
        |  SELECT doc_id, list_distinct(sh) AS ds FROM sh),
        |epost AS (
        |  SELECT doc_id, ('0x' || substr(md5(s2), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(ds) AS s2 FROM dsh)),
        |ex AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |  FROM epost a JOIN epost b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(ds) AS n FROM dsh),
        |exact AS (
        |  SELECT doc1, doc2,
        |    CAST(n_common * 1000000 // (s1.n + s2.n - n_common)
        |      AS BIGINT) AS j_ppm
        |  FROM ex JOIN sz s1 ON s1.doc_id = doc1
        |    JOIN sz s2 ON s2.doc_id = doc2
        |  WHERE n_common * 1000000 // (s1.n + s2.n - n_common) >= 500000),
        |j AS (
        |  SELECT exact.doc1, exact.doc2, j_ppm,
        |    CASE WHEN cand.doc1 IS NOT NULL THEN 1 ELSE 0 END AS found
        |  FROM exact LEFT JOIN cand
        |    ON exact.doc1 = cand.doc1 AND exact.doc2 = cand.doc2)
        |SELECT CAST(j_ppm // 100000 AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(found) AS BIGINT) AS n_found,
        |  CAST(count(*) - sum(found) AS BIGINT) AS missed,
        |  CAST(sum(found) * 1000000 // count(*) AS BIGINT) AS recall_ppm
        |FROM j GROUP BY 1 ORDER BY band""".stripMargin,
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, t.t FROM documents, unnest(string_split(lower(text), ' ')) AS t(t)),
        |hv AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, j,
        |    CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |         THEN (1::BIGINT << j) ELSE 0 END AS bit
        |  FROM hv, range(0, 60) r(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sig FROM bits GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, sig, c.c AS chunk_id, (sig >> (c.c * 15)) & 32767 AS chunk
        |  FROM sig, range(0, 4) c(c)),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
        |    CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        |  FROM chunks l JOIN chunks r USING (chunk_id, chunk)
        |  WHERE l.doc_id < r.doc_id)
        |SELECT doc1, doc2, hamming FROM cand WHERE hamming <= 3
        |ORDER BY doc1, doc2""".stripMargin,
    "dedup_sorted_neighborhood" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |      i -> string_split(lower(text), ' ')[i] || ' ' ||
        |           string_split(lower(text), ' ')[i+1] || ' ' ||
        |           string_split(lower(text), ' ')[i+2])) AS sh,
        |    substring(lower(trim(text)), 1, 24) AS bkey
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 3),
        |ranked AS (
        |  SELECT doc_id, sh,
        |    ROW_NUMBER() OVER (ORDER BY bkey, doc_id) - 1 AS r FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS d1, a.sh AS sh1, b.doc_id AS d2, b.sh AS sh2
        |  FROM ranked a JOIN ranked b
        |    ON b.r >= a.r + 1 AND b.r <= a.r + 5),
        |v AS (
        |  SELECT d1, d2, len(list_intersect(sh1, sh2)) AS c,
        |    len(sh1) AS n1, len(sh2) AS n2 FROM pairs)
        |SELECT least(d1, d2) AS doc1, greatest(d1, d2) AS doc2,
        |  CAST(c AS DOUBLE) / (n1 + n2 - c) AS jaccard
        |FROM v WHERE CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.5
        |ORDER BY doc1, doc2""".stripMargin,
    "dedup_embedding" ->
      """WITH b AS (
        |  SELECT vec_id, embedding, CAST(list_sum(list_transform(range(0, 6), j ->
        |  CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), d ->
        |        CAST(floor(CAST(embedding[d] AS DOUBLE)*1e6) AS BIGINT) *
        |        (CASE WHEN strpos('01234567', substr(md5(concat(j, ',', d-1)), 1, 1)) > 0
        |              THEN 1 ELSE -1 END))) > 0
        |       THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bucket FROM embeddings),
        |st AS (
        |  SELECT bucket, count(*) AS bsize, min(vec_id) AS rep FROM b GROUP BY bucket),
        |pairs AS (
        |  SELECT l.vec_id AS id1, l.embedding AS e1, r.vec_id AS id2, r.embedding AS e2
        |  FROM b l JOIN st USING (bucket) JOIN b r USING (bucket)
        |  WHERE st.bsize <= 64 AND l.vec_id < r.vec_id
        |  UNION ALL
        |  SELECT rb.vec_id AS id1, rb.embedding AS e1, m.vec_id AS id2, m.embedding AS e2
        |  FROM b m JOIN st USING (bucket) JOIN b rb ON rb.vec_id = st.rep
        |  WHERE st.bsize > 64 AND m.vec_id <> st.rep),
        |scored AS (
        |  SELECT id1, id2, (list_sum(list_transform(list_zip(e1, e2),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e1, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(e2, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos_sim FROM pairs)
        |SELECT id1, id2, cos_sim FROM scored WHERE cos_sim >= 0.25
        |ORDER BY id1, id2""".stripMargin,
    "ann_lsh" ->
      """WITH b AS (
        |  SELECT vec_id, embedding, CAST(list_sum(list_transform(range(0, 6), j ->
        |  CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), d ->
        |        CAST(floor(CAST(embedding[d] AS DOUBLE)*1e6) AS BIGINT) *
        |        (CASE WHEN strpos('01234567', substr(md5(concat(j, ',', d-1)), 1, 1)) > 0
        |              THEN 1 ELSE -1 END))) > 0
        |       THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bucket FROM embeddings),
        |q0 AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb,
        |    list_prepend(bucket,
        |      list_transform(range(0, 6), j -> xor(bucket, (1::BIGINT << j)))) AS probes
        |  FROM b WHERE vec_id < 10),
        |q AS (
        |  SELECT query_id, q_emb, p.bucket FROM q0, unnest(q0.probes) AS p(bucket)),
        |cand AS (
        |  SELECT DISTINCT q.query_id, q.q_emb, c.vec_id AS neighbor_id, c.embedding
        |  FROM q JOIN b c USING (bucket)
        |  WHERE c.vec_id <> q.query_id),
        |scored AS (
        |  SELECT query_id, neighbor_id, (list_sum(list_transform(list_zip(q_emb, embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos_sim FROM cand),
        |r AS (
        |  SELECT query_id, neighbor_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "ann_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e, cents c),
        |a AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
        |qp AS (
        |  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.centroid_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(q.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS pr
        |  FROM embeddings q, cents c WHERE q.vec_id < 10),
        |probes AS (SELECT query_id, q_emb, centroid_id FROM qp WHERE pr <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    (list_sum(list_transform(list_zip(p.q_emb, a.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos_sim
        |  FROM probes p JOIN a USING (centroid_id) WHERE a.vec_id <> p.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM cand)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // IVFADC: coarse argmax assignment -> residual encode -> one PQ
    // Lloyd round on residual slices -> per-query ADC table over the
    // probed lists; scores are integer sums of 1e6-floored per-sub d2
    "ann_ivfpq" ->
      """WITH cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS c_emb
        |  FROM embeddings WHERE vec_id < 16),
        |asg0 AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e, cents c),
        |a AS (SELECT vec_id, embedding, centroid_id FROM asg0 WHERE rn = 1),
        |res AS (
        |  SELECT a.vec_id, a.centroid_id,
        |    list_transform(list_zip(a.embedding, c.c_emb),
        |      z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS REAL)) AS r
        |  FROM a JOIN cents c USING (centroid_id)),
        |sl AS (
        |  SELECT vec_id, centroid_id, s.s AS sub,
        |    list_transform(generate_series(1, 16), i -> r[s.s * 16 + i]) AS v
        |  FROM res, range(0, 4) s(s)),
        |seeds AS (
        |  SELECT sub, vec_id AS code, v AS c_v FROM sl WHERE vec_id < 8),
        |pa1 AS (
        |  SELECT sl.vec_id, sl.sub, sl.v, c.code,
        |    row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
        |      list_sum(list_transform(list_zip(sl.v, c.c_v),
        |        s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |             (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))),
        |      c.code) AS rn
        |  FROM sl JOIN seeds c ON c.sub = sl.sub),
        |pm AS (
        |  SELECT sub, code, d.d - 1 AS dim,
        |    sum(CAST(floor(CAST(v[d.d] AS DOUBLE) * 1e6) AS BIGINT)) AS s2,
        |    count(*) AS n
        |  FROM pa1, range(1, 17) d(d) WHERE rn = 1 GROUP BY sub, code, d.d),
        |cb AS (
        |  SELECT sub, code,
        |    list(CAST(CAST(s2 AS DOUBLE) / n / 1e6 AS FLOAT) ORDER BY dim)
        |      AS c_v
        |  FROM pm GROUP BY sub, code),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT sl.vec_id, sl.sub, c.code,
        |      row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
        |        list_sum(list_transform(list_zip(sl.v, c.c_v),
        |          s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |               (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))),
        |        c.code) AS rn
        |    FROM sl JOIN cb c ON c.sub = sl.sub) WHERE rn = 1),
        |qp AS (
        |  SELECT q.vec_id AS query_id, q.embedding AS q_emb,
        |    c.centroid_id, c.c_emb,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(q.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS pr
        |  FROM embeddings q, cents c WHERE q.vec_id < 10),
        |probes AS (
        |  SELECT query_id, q_emb, centroid_id, c_emb FROM qp WHERE pr <= 4),
        |qres AS (
        |  SELECT query_id, centroid_id,
        |    list_transform(list_zip(q_emb, c_emb),
        |      z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS REAL)) AS r
        |  FROM probes),
        |qsl AS (
        |  SELECT query_id, centroid_id, s.s AS sub,
        |    list_transform(generate_series(1, 16), i -> r[s.s * 16 + i]) AS qv
        |  FROM qres, range(0, 4) s(s)),
        |adc AS (
        |  SELECT q.query_id, q.centroid_id, q.sub, c.code,
        |    CAST(floor(list_sum(list_transform(list_zip(q.qv, c.c_v),
        |      s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |           (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))) * 1e6)
        |      AS BIGINT) AS d2s
        |  FROM qsl q JOIN cb c ON c.sub = q.sub),
        |cand AS (
        |  SELECT adc.query_id, x.vec_id,
        |    CAST(sum(adc.d2s) AS BIGINT) AS adc_d2_scaled
        |  FROM codes co
        |   JOIN a x ON x.vec_id = co.vec_id
        |   JOIN adc ON adc.centroid_id = x.centroid_id
        |    AND adc.sub = co.sub AND adc.code = co.code
        |  WHERE x.vec_id <> adc.query_id
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, vec_id, adc_d2_scaled,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_d2_scaled, vec_id) AS rank
        |  FROM cand)
        |SELECT query_id, rank, vec_id AS neighbor_id, adc_d2_scaled,
        |  CAST(adc_d2_scaled AS DOUBLE) / 1e6 AS adc_d2
        |FROM rk WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "ann_recall_audit" ->
      """WITH bq AS (SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 10),
        |bs AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM bq, embeddings e WHERE e.vec_id <> bq.query_id),
        |br AS (SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS rank
        | FROM bs),
        |ex AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
        |cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e, cents c),
        |a AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
        |qp AS (
        |  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.centroid_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(q.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS pr
        |  FROM embeddings q, cents c WHERE q.vec_id < 10),
        |probes AS (SELECT query_id, q_emb, centroid_id FROM qp WHERE pr <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    (list_sum(list_transform(list_zip(p.q_emb, a.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos_sim
        |  FROM probes p JOIN a USING (centroid_id) WHERE a.vec_id <> p.query_id),
        |ivr AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM cand),
        |ap AS (SELECT query_id, neighbor_id FROM ivr WHERE rank <= 5),
        |mm AS (
        |  SELECT e.query_id, count(*) AS n_match
        |  FROM ex e JOIN ap USING (query_id, neighbor_id) GROUP BY 1),
        |ne AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1)
        |SELECT ne.query_id, coalesce(mm.n_match, 0) AS n_match,
        | CAST(coalesce(mm.n_match, 0) AS DOUBLE) / ne.n_exact AS recall
        |FROM ne LEFT JOIN mm ON mm.query_id = ne.query_id
        |ORDER BY ne.query_id""".stripMargin,
    "media_near_dup" ->
      """WITH hx AS (
        |  SELECT doc_id AS vec_id, hex(encode(text)) AS hs,
        |    octet_length(encode(text)) AS n FROM documents),
        |bg AS (
        |  SELECT vec_id,
        |    ((('0x' || substr(hs, 2*i.i - 3, 2))::BIGINT * 31
        |      + ('0x' || substr(hs, 2*i.i - 1, 2))::BIGINT) % 64) AS bin
        |  FROM hx, unnest(generate_series(2, n)) AS i(i) WHERE n >= 2),
        |bc AS (SELECT vec_id, bin, count(*) AS c FROM bg GROUP BY vec_id, bin),
        |hist AS (
        |  SELECT g.vec_id, list(coalesce(bc.c, 0) ORDER BY g.b) AS embedding
        |  FROM (SELECT vec_id, b.b FROM hx, range(0, 64) b(b)) g
        |  LEFT JOIN bc ON bc.vec_id = g.vec_id AND bc.bin = g.b
        |  GROUP BY g.vec_id),
        |b AS (
        |  SELECT vec_id, embedding, CAST(list_sum(list_transform(range(0, 6), j ->
        |  CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), d ->
        |        CAST(floor(CAST(embedding[d] AS DOUBLE)*1e6) AS BIGINT) *
        |        (CASE WHEN strpos('01234567', substr(md5(concat(j, ',', d-1)), 1, 1)) > 0
        |              THEN 1 ELSE -1 END))) > 0
        |       THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bucket FROM hist),
        |st AS (
        |  SELECT bucket, count(*) AS bsize, min(vec_id) AS rep FROM b GROUP BY bucket),
        |pairs AS (
        |  SELECT l.vec_id AS id1, l.embedding AS e1, r.vec_id AS id2, r.embedding AS e2
        |  FROM b l JOIN st USING (bucket) JOIN b r USING (bucket)
        |  WHERE st.bsize <= 128 AND l.vec_id < r.vec_id
        |  UNION ALL
        |  SELECT rb.vec_id AS id1, rb.embedding AS e1, m.vec_id AS id2, m.embedding AS e2
        |  FROM b m JOIN st USING (bucket) JOIN b rb ON rb.vec_id = st.rep
        |  WHERE st.bsize > 128 AND m.vec_id <> st.rep),
        |scored AS (
        |  SELECT id1, id2, (list_sum(list_transform(list_zip(e1, e2),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e1, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(e2, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos_sim FROM pairs)
        |SELECT id1, id2, cos_sim FROM scored WHERE cos_sim >= 0.999
        |ORDER BY id1, id2""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, length(text) AS len,
        | len(string_split(lower(text), ' ')) AS n_tokens,
        | len(list_filter(string_split(lower(text), ' '),
        |   t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS n_stop,
        | len(list_distinct(string_split(lower(text), ' '))) AS n_uniq,
        | CAST(n_stop AS DOUBLE)/n_tokens AS stop_ratio,
        | CAST(n_uniq AS DOUBLE)/n_tokens AS uniq_ratio,
        | (CAST(n_uniq AS DOUBLE)/n_tokens)*0.6
        |  + (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)*0.4 AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        | len(string_split(lower(text), ' ')) AS ws_tokens,
        | CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |   t -> CAST(ceil(length(t)/4.0) AS BIGINT))) AS BIGINT) AS subword_pieces,
        | CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |   t -> length(t))) AS DOUBLE)
        |  / len(string_split(lower(text), ' ')) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_sort(list_distinct(
        |   string_split(lower(text), ' '))), ' ')) AS content_fp,
        | md5(lower(trim(text))) AS exact_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // whitespace class is the explicit [ \t\n\r\f]+ on BOTH sides:
    // Java's \s matches \x0B, RE2's does not
    "text_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(lower(regexp_replace(text, '<[^>]*>', ' ', 'g')),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS norm_text FROM documents)
        |SELECT doc_id, norm_text, md5(norm_text) AS norm_hash,
        | CAST(length(text) AS BIGINT) AS len_raw,
        | CAST(length(norm_text) AS BIGINT) AS len_norm,
        | CAST(norm_text <> text AS BIGINT) AS is_changed
        |FROM n ORDER BY doc_id""".stripMargin,
    "dedup_normalized" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(regexp_replace(text, '<[^>]*>', ' ', 'g')),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS norm_text FROM documents)
        |SELECT md5(norm_text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM n GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "text_ngram_jaccard" ->
      """WITH sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |common AS (
        | SELECT a.source, a.doc_id AS doc1, b.doc_id AS doc2,
        |  count(*) AS n_common
        | FROM post a JOIN post b
        |  ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2, 3)
        |SELECT source, doc1, doc2,
        | CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) AS jaccard
        |FROM common
        |JOIN sz s1 ON s1.doc_id = doc1
        |JOIN sz s2 ON s2.doc_id = doc2
        |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.05
        |ORDER BY source, doc1, doc2""".stripMargin,
    "text_containment" ->
      """WITH sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |common AS (
        | SELECT a.source, a.doc_id AS doc1, b.doc_id AS doc2,
        |  count(*) AS n_common
        | FROM post a JOIN post b
        |  ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2, 3),
        |dirs AS (
        | SELECT source, doc1 AS src_id, doc2 AS dst_id,
        |  CAST(n_common AS DOUBLE) / s1.n AS containment
        | FROM common JOIN sz s1 ON s1.doc_id = doc1
        | UNION ALL
        | SELECT source, doc2 AS src_id, doc1 AS dst_id,
        |  CAST(n_common AS DOUBLE) / s2.n AS containment
        | FROM common JOIN sz s2 ON s2.doc_id = doc2)
        |SELECT source, src_id, dst_id, containment FROM dirs
        |WHERE containment >= 0.5
        |ORDER BY source, src_id, dst_id""".stripMargin,
    "dedup_union_cluster" ->
      """WITH RECURSIVE
        |tk AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |msh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM tk WHERE len(tk) >= 3),
        |dsh AS MATERIALIZED (SELECT doc_id, list_distinct(sh) AS ds FROM msh),
        |mpost AS (SELECT doc_id, s.s FROM msh, unnest(msh.sh) AS s(s)),
        |mhv AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM mpost),
        |mseeds AS (
        |  SELECT j.j AS j,
        |    1 + (('0x' || substr(md5('a:' || j.j), 1, 15))::BIGINT
        |         % 2147483646) AS a,
        |    ('0x' || substr(md5('b:' || j.j), 1, 15))::BIGINT
        |      % 2147483647 AS b
        |  FROM range(0, 64) j(j)),
        |mmins AS (
        |  SELECT doc_id, j, min((a * h + b) % 2147483647) AS m
        |  FROM mhv, mseeds GROUP BY doc_id, j),
        |mbands AS MATERIALIZED (
        |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |    ('0x' || substr(md5(array_to_string(
        |      list(CAST(m AS VARCHAR) ORDER BY j), '|')), 1, 15))::BIGINT AS bh
        |  FROM mmins GROUP BY doc_id, j // 4),
        |mcand AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        |  FROM mbands l JOIN mbands r USING (band, bh)
        |  WHERE l.doc_id < r.doc_id),
        |mpairs AS (
        |  SELECT doc1, doc2
        |  FROM mcand JOIN dsh a ON a.doc_id = doc1
        |             JOIN dsh b ON b.doc_id = doc2
        |  WHERE CAST(len(list_intersect(a.ds, b.ds)) AS DOUBLE) /
        |    (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds))) >= 0.5),
        |stok AS (
        |  SELECT doc_id, t.t FROM documents,
        |    unnest(string_split(lower(text), ' ')) AS t(t)),
        |shv AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM stok),
        |sbits AS (
        |  SELECT doc_id, j,
        |    CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |         THEN (1::BIGINT << j) ELSE 0 END AS bit
        |  FROM shv, range(0, 60) r(j) GROUP BY doc_id, j),
        |ssig AS (
        |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sig
        |  FROM sbits GROUP BY doc_id),
        |schunks AS MATERIALIZED (
        |  SELECT doc_id, sig, c.c AS chunk_id, (sig >> (c.c * 15)) & 32767 AS chunk
        |  FROM ssig, range(0, 4) c(c)),
        |spairs AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        |  FROM schunks l JOIN schunks r USING (chunk_id, chunk)
        |  WHERE l.doc_id < r.doc_id
        |    AND bit_count(xor(l.sig, r.sig)) <= 3),
        |nkey AS (
        |  SELECT s.doc_id, s.ds AS sh,
        |    substring(lower(trim(t.text)), 1, 24) AS bkey
        |  FROM dsh s JOIN documents t ON t.doc_id = s.doc_id),
        |nranked AS MATERIALIZED (
        |  SELECT doc_id, sh,
        |    ROW_NUMBER() OVER (ORDER BY bkey, doc_id) - 1 AS r FROM nkey),
        |npairs0 AS (
        |  SELECT a.doc_id AS d1, a.sh AS sh1, b.doc_id AS d2, b.sh AS sh2
        |  FROM nranked a JOIN nranked b
        |    ON b.r >= a.r + 1 AND b.r <= a.r + 5),
        |npairs AS (
        |  SELECT least(d1, d2) AS doc1, greatest(d1, d2) AS doc2 FROM npairs0
        |  WHERE CAST(len(list_intersect(sh1, sh2)) AS DOUBLE) /
        |    (len(sh1) + len(sh2) - len(list_intersect(sh1, sh2))) >= 0.5),
        |allpairs AS MATERIALIZED (
        |  SELECT doc1, doc2 FROM mpairs
        |  UNION SELECT doc1, doc2 FROM spairs
        |  UNION SELECT doc1, doc2 FROM npairs),
        |edges AS MATERIALIZED (
        |  SELECT doc1 AS a, doc2 AS b FROM allpairs
        |  UNION ALL SELECT doc2, doc1 FROM allpairs),
        |reach(node, lab) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a),
        |labeled AS (
        |  SELECT node AS doc_id, min(lab) AS cluster_id
        |  FROM reach GROUP BY node)
        |SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_cluster" ->
      """WITH RECURSIVE
        |sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |pairs AS (
        | SELECT doc1, doc2 FROM (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |  FROM post a JOIN post b
        |   ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) c
        | JOIN sz s1 ON s1.doc_id = c.doc1
        | JOIN sz s2 ON s2.doc_id = c.doc2
        | WHERE CAST(c.n_common AS DOUBLE)
        |   / (s1.n + s2.n - c.n_common) >= 0.2),
        |edges AS (
        | SELECT doc1 AS a, doc2 AS b FROM pairs
        | UNION ALL SELECT doc2, doc1 FROM pairs),
        |reach(node, lab) AS (
        | SELECT DISTINCT a, a FROM edges
        | UNION
        | SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a),
        |labeled AS (
        | SELECT node AS doc_id, min(lab) AS cluster_id
        | FROM reach GROUP BY node)
        |SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // same recursive-CTE CC as dedup_cluster; histogram over sizes
    "dedup_cluster_stats" ->
      """WITH RECURSIVE
        |sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |pairs AS (
        | SELECT doc1, doc2 FROM (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |  FROM post a JOIN post b
        |   ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) c
        | JOIN sz s1 ON s1.doc_id = c.doc1
        | JOIN sz s2 ON s2.doc_id = c.doc2
        | WHERE CAST(c.n_common AS DOUBLE)
        |   / (s1.n + s2.n - c.n_common) >= 0.2),
        |edges AS (
        | SELECT doc1 AS a, doc2 AS b FROM pairs
        | UNION ALL SELECT doc2, doc1 FROM pairs),
        |reach(node, lab) AS (
        | SELECT DISTINCT a, a FROM edges
        | UNION
        | SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a),
        |labeled AS (
        | SELECT node AS doc_id, min(lab) AS cluster_id
        | FROM reach GROUP BY node),
        |lab2 AS (
        | SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        | FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id),
        |sizes AS (
        | SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
        | FROM lab2 GROUP BY 1)
        |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(csize * count(*) AS BIGINT) AS docs_mass
        |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin,
    // 20-token chunk windows scored by the langId stopword profiles;
    // ties to the lexicographically LAST language on both engines
    "text_lang_mix" ->
      """WITH d AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS tk
        | FROM documents WHERE len(string_split(lower(text), ' ')) > 0),
        |ch AS (
        | SELECT doc_id, g.i AS ci,
        |   list_slice(tk, g.i * 20 + 1, g.i * 20 + 20) AS ct
        | FROM d, unnest(generate_series(0, (len(tk) - 1) // 20)) g(i)),
        |sc AS (
        | SELECT doc_id, ci, lang,
        |   len(list_filter(ct, t -> list_contains(words, t))) AS hits
        | FROM ch CROSS JOIN (VALUES
        |   ('en', ['the', 'and', 'of', 'is']),
        |   ('fr', ['le', 'la', 'et', 'de']),
        |   ('de', ['der', 'die', 'und', 'das']),
        |   ('es', ['el', 'la', 'y', 'de']),
        |   ('zh', ['de', 'shi', 'le', 'he'])) AS p(lang, words)),
        |cl AS (
        | SELECT doc_id, lang AS clang FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id, ci
        |    ORDER BY hits DESC, lang DESC) AS rn FROM sc)
        | WHERE rn = 1),
        |pc AS (SELECT doc_id, clang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cl GROUP BY 1, 2),
        |r AS (SELECT doc_id, clang, cnt,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY cnt DESC, clang DESC) AS rn,
        |  sum(cnt) OVER (PARTITION BY doc_id) AS n_chunks
        | FROM pc)
        |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  clang AS major_lang,
        |  CAST((n_chunks - cnt) * 1000000 // n_chunks AS BIGINT)
        |    AS minority_ppm
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "pipeline_sample" ->
      """SELECT doc_id, lang, h FROM (
        | SELECT doc_id, lang,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
        | FROM documents)
        |WHERE (lang = 'en' AND h IN ('0','1','2','3','4','5','6','7'))
        |   OR (lang <> 'en' AND h IN ('0','1'))
        |ORDER BY doc_id""".stripMargin,
    "text_term_stats" ->
      """SELECT term, count(*) AS doc_freq FROM (
        | SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS term
        | FROM documents)
        |GROUP BY term ORDER BY doc_freq DESC, term LIMIT 50""".stripMargin,
    "rx_outliers" ->
      """WITH x AS (
        | SELECT event_id, user_id, value,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xi
        | FROM events),
        |m AS (
        | SELECT event_id, user_id, value, xi,
        |  count(*) OVER (PARTITION BY user_id) AS n,
        |  sum(xi) OVER (PARTITION BY user_id) AS sx,
        |  sum(xi * xi) OVER (PARTITION BY user_id) AS sxx
        | FROM x)
        |SELECT event_id, user_id, value FROM m
        |WHERE n >= 2 AND
        | (n * xi - sx) * (n * xi - sx) > 9 * (n * sxx - sx * sx)
        |ORDER BY event_id""".stripMargin,
    "rx_outliers_mad" ->
      """WITH med AS (
        | SELECT user_id, quantile_cont(value, 0.5) AS med,
        |  count(*) AS n
        | FROM events GROUP BY user_id HAVING count(*) >= 2),
        |mad AS (
        | SELECT e.user_id,
        |  quantile_cont(abs(e.value - m.med), 0.5) AS mad
        | FROM events e JOIN med m USING (user_id)
        | GROUP BY e.user_id)
        |SELECT e.event_id, e.user_id, e.value, m.med, d.mad
        |FROM events e
        |JOIN med m ON e.user_id = m.user_id
        |JOIN mad d ON e.user_id = d.user_id
        |WHERE abs(e.value - m.med) > 4.4478 * d.mad
        |ORDER BY e.event_id""".stripMargin,
    "lang_confusion" ->
      """SELECT labeled_lang, predicted_lang, count(*) AS n_docs
        |FROM (
        | SELECT lang AS labeled_lang,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['der','die','und','das'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_de,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['the','and','of','is'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_en,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['el','la','y','de'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_es,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['le','la','et','de'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_fr,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['de','shi','le','he'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_zh,
        |  CASE
        |   WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
        |   WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |   WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |   WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |   ELSE 'de' END AS predicted_lang
        | FROM documents)
        |GROUP BY labeled_lang, predicted_lang
        |ORDER BY labeled_lang, predicted_lang""".stripMargin,
    "text_lang_id" ->
      """SELECT doc_id, labeled_lang, predicted_lang,
        | greatest(s_de, s_en, s_es, s_fr, s_zh) AS confidence
        |FROM (
        | SELECT doc_id, lang AS labeled_lang,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['der','die','und','das'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_de,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['the','and','of','is'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_en,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['el','la','y','de'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_es,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['le','la','et','de'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_fr,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['de','shi','le','he'], t))) AS DOUBLE)
        |   / len(string_split(lower(text), ' ')) AS s_zh,
        |  CASE
        |   WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
        |   WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |   WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |   WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |   ELSE 'de' END AS predicted_lang
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "pipeline_filter" ->
      """SELECT doc_id, lang, n_tokens, uniq_ratio, quality_score FROM (
        | SELECT doc_id, lang,
        |  len(string_split(lower(text), ' ')) AS n_tokens,
        |  len(list_distinct(string_split(lower(text), ' '))) AS n_uniq,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS n_stop,
        |  CAST(n_uniq AS DOUBLE)/n_tokens AS uniq_ratio,
        |  (CAST(n_uniq AS DOUBLE)/n_tokens)*0.6
        |   + (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)*0.4 AS quality_score,
        |  min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
        | FROM documents)
        |WHERE doc_id = keep_id AND n_tokens BETWEEN 5 AND 1000
        | AND uniq_ratio >= 0.3
        |ORDER BY doc_id""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        | u.frame_id,
        | u.frame_id*256 AS frame_offset
        |FROM documents,
        | unnest(generate_series(0,
        |   greatest(1, CAST(octet_length(encode(text)) AS BIGINT)//256) - 1)) AS u(frame_id)
        |ORDER BY media_id, frame_id""".stripMargin,
    // ---- round 3: reactive fill-in ----
    "rx_skip_while" ->
      """SELECT event_id, user_id, value FROM (
        | SELECT event_id, user_id, value,
        |  sum(CASE WHEN value >= 150.0 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS violations
        | FROM events)
        |WHERE violations > 0 ORDER BY event_id""".stripMargin,
    "rx_take_until" ->
      """SELECT event_id, user_id, event_type, value FROM (
        | SELECT event_id, user_id, event_type, value,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fired
        | FROM events)
        |WHERE fired = 0 AND event_type <> 'error'
        |ORDER BY event_id""".stripMargin,
    "rx_skip_until" ->
      """SELECT event_id, user_id, event_type, value FROM (
        | SELECT event_id, user_id, event_type, value,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fired
        | FROM events)
        |WHERE fired > 0 AND event_type <> 'error'
        |ORDER BY event_id""".stripMargin,
    "rx_element_at" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        | FROM events)
        |WHERE rn = 3 ORDER BY user_id""".stripMargin,
    "rx_indexed" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        | row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS idx
        |FROM events ORDER BY event_id""".stripMargin,
    "rx_min_max_by" ->
      """SELECT user_id,
        | max(CASE WHEN rmin = 1 THEN event_id END) AS min_event_id,
        | max(CASE WHEN rmin = 1 THEN value END) AS min_value,
        | max(CASE WHEN rmax = 1 THEN event_id END) AS max_event_id,
        | max(CASE WHEN rmax = 1 THEN value END) AS max_value
        |FROM (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY value ASC, event_id ASC) AS rmin,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id ASC) AS rmax
        | FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_single" ->
      """SELECT user_id, epoch_ms(day) AS day_ms, event_id, "value" FROM (
        | SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n,
        |  min(event_id) AS event_id, min("value") AS "value"
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |WHERE n = 1 ORDER BY user_id, day_ms""".stripMargin,
    "rx_to_list" ->
      """SELECT user_id, count(*) AS n,
        | string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_buffer_toggle" ->
      """SELECT user_id, open_id, count(*) AS buf_n,
        | CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS buf_sum,
        | max(event_id) AS last_event_id
        |FROM (
        | SELECT user_id, event_id, "value",
        |  max(CASE WHEN event_type = 'signup' THEN event_id END)
        |   OVER w AS open_id,
        |  max(CASE WHEN event_type = 'error' THEN event_id END)
        |   OVER w AS close_id
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE open_id IS NOT NULL AND (close_id IS NULL OR close_id < open_id)
        |GROUP BY user_id, open_id ORDER BY user_id, open_id""".stripMargin,
    "rx_sample_trigger" ->
      """SELECT event_id, user_id, click_event_id, click_value FROM (
        | SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |   OVER w AS click_event_id,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER w AS click_value
        | FROM events WHERE event_type IN ('click', 'view')
        | WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'view' ORDER BY event_id""".stripMargin,
    // ---- round 3: training-data pipeline fill-in ----
    "pii_scrub" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(seeded,
        |   'https?://[^ ]+', '<URL>', 'g'),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS clean_text,
        | len(regexp_extract_all(seeded, 'https?://[^ ]+'))
        |  + len(regexp_extract_all(regexp_replace(seeded,
        |      'https?://[^ ]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(regexp_replace(regexp_replace(seeded,
        |      'https?://[^ ]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+[0-9][0-9-]{6,}[0-9]')) AS n_redactions
        |FROM (SELECT doc_id,
        |  'Contact: u' || doc_id || '@mail.example.com or +1-555-000' || doc_id
        |   || ' visit https://ex.org/d/' || doc_id || ' ' || text AS seeded
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "contamination_check" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
        |p AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |b AS (SELECT doc_id AS bench_id, s FROM p WHERE doc_id % 97 = 0)
        |SELECT p.doc_id, count(DISTINCT b.bench_id) AS n_bench_docs,
        | count(DISTINCT p.s) AS n_shared_shingles
        |FROM p JOIN b ON p.s = b.s WHERE p.doc_id % 97 <> 0
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    "doc_chunks" ->
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        |SELECT doc_id, g.chunk_id,
        | array_to_string(list_slice(toks, chunk_id*40 + 1, chunk_id*40 + 50),
        |   ' ') AS chunk_text,
        | least(50, len(toks) - chunk_id*40) AS chunk_tokens
        |FROM t, unnest(generate_series(0, greatest(0,
        |  CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT)))) AS g(chunk_id)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "source_stats" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | CAST(sum(n_tokens) AS DOUBLE)/count(*) AS mean_tokens,
        | count(CASE WHEN CAST(n_uniq AS DOUBLE)/n_tokens >= 0.5 THEN 1 END)
        |  AS n_high_uniq,
        | min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM (SELECT source, len(string_split(lower(text), ' ')) AS n_tokens,
        |  len(list_distinct(string_split(lower(text), ' '))) AS n_uniq
        | FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "token_histogram" ->
      """SELECT (n_tokens // 50) * 50 AS bucket_lo, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM (SELECT len(string_split(lower(text), ' ')) AS n_tokens
        | FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_tfidf_top_terms" ->
      """WITH tok AS (
        | SELECT doc_id, source,
        |  unnest(string_split(lower(text), ' ')) AS term
        | FROM documents),
        |tf AS (
        | SELECT source, term, count(*) AS tf_sum
        | FROM tok WHERE term <> '' GROUP BY source, term),
        |dfreq AS (
        | SELECT term, count(DISTINCT doc_id) AS df
        | FROM tok WHERE term <> '' GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT source, term, tf_sum, df, score, rnk FROM (
        | SELECT source, term, tf_sum, df,
        |  CAST(tf_sum * (n_docs + 1) AS DOUBLE)
        |    / CAST(df + 1 AS DOUBLE) AS score,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(tf_sum * (n_docs + 1) AS DOUBLE)
        |      / CAST(df + 1 AS DOUBLE) DESC, term) AS rnk
        | FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    "text_novelty" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h
        | FROM sh),
        |firsts AS (SELECT h, min(doc_id) AS doc_id FROM post GROUP BY h),
        |novel AS (
        | SELECT doc_id, count(*) AS n_novel FROM firsts GROUP BY doc_id),
        |tot AS (SELECT doc_id, len(sh) AS n_sh FROM sh)
        |SELECT t.doc_id, t.n_sh,
        | coalesce(n.n_novel, 0) AS n_novel,
        | CAST(coalesce(n.n_novel, 0) AS DOUBLE) / t.n_sh AS novelty
        |FROM tot t LEFT JOIN novel n USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "curriculum_order" ->
      """WITH scored AS (
        | SELECT doc_id,
        |  CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
        |    / len(string_split(lower(text), ' ')) AS difficulty
        | FROM documents),
        |cuts AS (
        | SELECT quantile_cont(difficulty, 0.25) AS c1,
        |  quantile_cont(difficulty, 0.5) AS c2,
        |  quantile_cont(difficulty, 0.75) AS c3
        | FROM scored)
        |SELECT doc_id, difficulty, bucket, stage,
        | (bucket - 1) * 16 + stage AS phase
        |FROM (
        | SELECT doc_id, difficulty,
        |  1 + CAST(difficulty > c1 AS BIGINT)
        |    + CAST(difficulty > c2 AS BIGINT)
        |    + CAST(difficulty > c3 AS BIGINT) AS bucket,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT
        |    AS stage
        | FROM scored CROSS JOIN cuts)
        |ORDER BY doc_id""".stripMargin,
    "sketch_distinct" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tk AS (
        | SELECT source, term,
        |  ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
        | FROM tok WHERE term <> ''),
        |ex AS (
        | SELECT source, count(DISTINCT term) AS n_exact FROM tk GROUP BY source),
        |d AS (SELECT DISTINCT source, h FROM tk),
        |r AS (SELECT source, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY source) AS nd FROM d),
        |est AS (
        | SELECT source,
        |  CASE WHEN max(nd) < 16 THEN max(nd)
        |   ELSE CAST((15::HUGEINT * 1152921504606846976::HUGEINT)
        |     // max(CASE WHEN rn = 16 THEN h END) AS BIGINT) END AS n_est
        | FROM r GROUP BY source)
        |SELECT e.source, e.n_exact, s.n_est
        |FROM ex e JOIN est s USING (source) ORDER BY source""".stripMargin,
    "sketch_set_ops" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tk AS (
        | SELECT DISTINCT source, term,
        |  ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
        | FROM tok WHERE term <> ''),
        |d AS (SELECT DISTINCT source, h FROM tk),
        |r AS (SELECT source, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        | FROM d),
        |km AS (
        | SELECT source, list_sort(list(h)) AS mins FROM r
        | WHERE rn <= 16 GROUP BY source),
        |ex AS (SELECT DISTINCT source, term FROM tk),
        |exn AS (SELECT source, count(*) AS n_ex FROM ex GROUP BY 1),
        |exi AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_inter_exact
        | FROM ex a JOIN ex b
        |  ON a.term = b.term AND a.source < b.source GROUP BY 1, 2),
        |p AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  (list_sort(list_distinct(list_concat(a.mins, b.mins))))[1:16]
        |   AS merged,
        |  a.mins AS mins_a, b.mins AS mins_b
        | FROM km a JOIN km b ON a.source < b.source),
        |q AS (
        | SELECT source_a, source_b, merged,
        |  len(merged) AS n_merged,
        |  len(list_intersect(merged,
        |    list_intersect(mins_a, mins_b))) AS rho
        | FROM p),
        |e AS (
        | SELECT source_a, source_b, rho, n_merged,
        |  CASE WHEN n_merged < 16 THEN CAST(n_merged AS BIGINT)
        |   ELSE CAST((15::HUGEINT * 1152921504606846976::HUGEINT)
        |     // merged[16] AS BIGINT) END AS union_est
        | FROM q)
        |SELECT e.source_a, e.source_b, union_est,
        | CAST(CASE WHEN n_merged < 16 THEN rho
        |   ELSE rho * union_est // 16 END AS BIGINT) AS inter_est,
        | CAST(CASE WHEN n_merged < 16 THEN rho * 1000000 // n_merged
        |   ELSE rho * 1000000 // 16 END AS BIGINT)
        |  AS jaccard_est_ppm,
        | CAST(na.n_ex + nb.n_ex - coalesce(exi.n_inter_exact, 0)
        |   AS BIGINT) AS n_union_exact,
        | CAST(coalesce(exi.n_inter_exact, 0) AS BIGINT)
        |  AS n_inter_exact
        |FROM e
        |LEFT JOIN exi ON exi.source_a = e.source_a
        | AND exi.source_b = e.source_b
        |JOIN exn na ON na.source = e.source_a
        |JOIN exn nb ON nb.source = e.source_b
        |ORDER BY e.source_a, e.source_b""".stripMargin,
    "sketch_quantiles" ->
      """WITH s AS (
        | SELECT source, n_chars FROM (
        |  SELECT source, n_chars,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 256),
        |a AS (SELECT source, list_sort(list(n_chars)) AS vals,
        |  count(*) AS sample_m FROM s GROUP BY source)
        |SELECT source, sample_m,
        | vals[CAST(greatest(1, ceil(sample_m * 0.5)) AS BIGINT)] AS est_p50,
        | vals[CAST(greatest(1, ceil(sample_m * 0.9)) AS BIGINT)] AS est_p90,
        | vals[CAST(greatest(1, ceil(sample_m * 0.99)) AS BIGINT)] AS est_p99
        |FROM a ORDER BY source""".stripMargin,
    "sketch_cms_topk" ->
      """WITH tok AS (
        | SELECT unnest(string_split(lower(text), ' ')) AS term
        | FROM documents),
        |counts AS (
        | SELECT term, count(*) AS cnt FROM tok
        | WHERE term <> '' GROUP BY term),
        |wh AS (
        | SELECT term, cnt,
        |  ('0x' || substr(md5(term), 1, 7))::BIGINT AS h28
        | FROM counts),
        |consts AS (
        | SELECT d,
        |  1 + ('0x' || substr(md5('cms:a:' || d), 1, 15))::BIGINT
        |    % 2147483646 AS ca,
        |  ('0x' || substr(md5('cms:b:' || d), 1, 15))::BIGINT
        |    % 2147483647 AS cb
        | FROM (SELECT unnest(generate_series(0, 3)) AS d)),
        |cells AS (
        | SELECT d, ((ca * h28 + cb) % 2147483647) % 256 AS bucket,
        |  CAST(sum(cnt) AS BIGINT) AS cell
        | FROM wh CROSS JOIN consts GROUP BY 1, 2),
        |topk AS (
        | SELECT term, cnt, h28 FROM wh
        | ORDER BY cnt DESC, term LIMIT 20)
        |SELECT term, exact_cnt, cms_est,
        | cms_est - exact_cnt AS overestimate
        |FROM (
        | SELECT t.term, t.cnt AS exact_cnt, min(c.cell) AS cms_est
        | FROM topk t CROSS JOIN consts k
        | JOIN cells c ON c.d = k.d
        |  AND c.bucket = ((k.ca * t.h28 + k.cb) % 2147483647) % 256
        | GROUP BY 1, 2)
        |ORDER BY exact_cnt DESC, term""".stripMargin,
    "text_collocations" ->
      """WITH tk AS (
        | SELECT string_split(lower(text), ' ') AS t FROM documents),
        |ucnt AS (
        | SELECT term, count(*) AS cnt
        | FROM (SELECT unnest(t) AS term FROM tk)
        | WHERE term <> '' GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM ucnt),
        |bagg AS (
        | SELECT bigram, count(*) AS n_ab FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM tk WHERE len(t) >= 2)
        | GROUP BY bigram),
        |topk AS (
        | SELECT bigram, n_ab,
        |  string_split(bigram, ' ')[1] AS a,
        |  string_split(bigram, ' ')[2] AS b
        | FROM bagg
        | WHERE string_split(bigram, ' ')[1] <> ''
        |  AND string_split(bigram, ' ')[2] <> ''
        | ORDER BY n_ab DESC, bigram LIMIT 20)
        |SELECT t.bigram, t.n_ab, ua.cnt AS n_a, ub.cnt AS n_b,
        | ((t.n_ab * 1000000) // ua.cnt) * (SELECT n_total FROM tot)
        |   // ub.cnt AS lift_ppm
        |FROM topk t
        |JOIN ucnt ua ON ua.term = t.a
        |JOIN ucnt ub ON ub.term = t.b
        |ORDER BY n_ab DESC, bigram""".stripMargin,
    "source_diversity" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(string_split(lower(text), ' ')) AS term
        | FROM documents),
        |counts AS (
        | SELECT source, term, count(*) AS cnt FROM tok
        | WHERE term <> '' GROUP BY 1, 2),
        |totals AS (
        | SELECT source, CAST(sum(cnt) AS BIGINT) AS tot
        | FROM counts GROUP BY 1),
        |scaled AS (
        | SELECT c.source, c.cnt * 1000000000 // t.tot AS p
        | FROM counts c JOIN totals t USING (source))
        |SELECT source, count(*) AS n_terms, max(p) AS top_share_ppb,
        | 1000000000 - CAST(sum((p * p) // 1000000000) AS BIGINT)
        |   AS gini_ppb
        |FROM scaled GROUP BY source ORDER BY source""".stripMargin,
    "source_divergence" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(string_split(lower(text), ' ')) AS term
        | FROM documents),
        |counts AS (
        | SELECT source, term, count(*) AS cnt FROM tok
        | WHERE term <> '' GROUP BY 1, 2),
        |totals AS (
        | SELECT source, CAST(sum(cnt) AS BIGINT) AS tot
        | FROM counts GROUP BY 1),
        |scaled AS (
        | SELECT c.source, c.term, c.cnt * 1000000000 // t.tot AS p
        | FROM counts c JOIN totals t USING (source)),
        |mass AS (
        | SELECT source, CAST(sum(p) AS BIGINT) AS mass
        | FROM scaled GROUP BY 1),
        |shared AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(sum((a.p - b.p) * (a.p - b.p) // (a.p + b.p)) AS BIGINT)
        |    AS chi2_shared,
        |  CAST(sum(a.p) AS BIGINT) AS shared_p,
        |  CAST(sum(b.p) AS BIGINT) AS shared_q,
        |  count(*) AS n_shared_terms
        | FROM scaled a JOIN scaled b
        |  ON a.term = b.term AND a.source < b.source
        | GROUP BY 1, 2),
        |pairs AS (
        | SELECT a.source AS source_a, a.mass AS mass_a,
        |  b.source AS source_b, b.mass AS mass_b
        | FROM mass a JOIN mass b ON a.source < b.source)
        |SELECT source_a, source_b,
        | coalesce(n_shared_terms, 0) AS n_shared_terms,
        | coalesce(chi2_shared, 0) + (mass_a - coalesce(shared_p, 0))
        |   + (mass_b - coalesce(shared_q, 0)) AS chi2_scaled,
        | CAST(coalesce(chi2_shared, 0)
        |   + (mass_a - coalesce(shared_p, 0))
        |   + (mass_b - coalesce(shared_q, 0)) AS DOUBLE) / 1e9 AS chi2
        |FROM pairs LEFT JOIN shared USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin,
    "pipeline_importance_sample" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  string_split(lower(text), ' ') AS toks
        | FROM documents),
        |w AS (
        | SELECT doc_id, source,
        |  len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_uniq
        | FROM t)
        |SELECT doc_id, source, n_tokens,
        | n_uniq * 1000000 // n_tokens AS weight_ppm,
        | ('0x' || substr(md5('is:' || CAST(doc_id AS VARCHAR)), 1, 7))
        |   ::BIGINT % 1000000 AS u_ppm
        |FROM w
        |WHERE ('0x' || substr(md5('is:' || CAST(doc_id AS VARCHAR)), 1, 7))
        |   ::BIGINT % 1000000 < n_uniq * 1000000 // n_tokens
        |ORDER BY doc_id""".stripMargin,
    "dedup_substring" ->
      """WITH tk AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id, list_transform(
        |   generate_series(1, len(t) - 7),
        |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |     || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
        |     || t[i+7]) AS wins
        | FROM tk WHERE len(t) >= 8),
        |post AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(unnest(wins)), 1, 15))::BIGINT AS h
        | FROM sh),
        |pc AS (SELECT doc_id, h, count(*) AS n_win FROM post GROUP BY 1, 2),
        |tot AS (SELECT h, CAST(sum(n_win) AS BIGINT) AS n_occ
        |        FROM pc GROUP BY h)
        |SELECT doc_id,
        | CAST(sum(n_win) AS BIGINT) AS n_windows,
        | CAST(sum(CASE WHEN n_occ >= 2 THEN n_win ELSE 0 END) AS BIGINT)
        |   AS n_dup_win,
        | CAST(sum(CASE WHEN n_occ >= 2 THEN n_win ELSE 0 END) AS DOUBLE)
        |   / CAST(sum(n_win) AS BIGINT) AS dup_ratio
        |FROM pc JOIN tot USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // exact-substring removal: canonical occurrence = (doc_id, pos)
    // minimum per window hash (row_number), removed starts merge into
    // islands (fixed width 8 ⇒ merge iff pos <= prev + 8), retained
    // spans are the per-doc gap complement
    "dedup_substring_spans" ->
      """WITH tk AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |base AS (SELECT doc_id, len(t) AS n, t FROM tk),
        |sh AS (
        | SELECT doc_id, n, list_transform(
        |   generate_series(1, len(t) - 7),
        |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |     || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
        |     || t[i+7]) AS wins
        | FROM base WHERE len(t) >= 8),
        |post AS (
        | SELECT doc_id, n, u.i AS pos,
        |  ('0x' || substr(md5(wins[u.i]), 1, 15))::BIGINT AS h
        | FROM sh, unnest(generate_series(1, len(wins))) u(i)),
        |rem AS (
        | SELECT doc_id, n, pos FROM (
        |  SELECT doc_id, n, pos,
        |   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM post) WHERE rn >= 2),
        |isl AS (
        | SELECT doc_id, n, pos,
        |  sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
        | FROM (SELECT doc_id, n, pos,
        |   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM rem)),
        |mg AS (
        | SELECT doc_id, n, island, min(pos) AS s, max(pos) + 7 AS e
        | FROM isl GROUP BY doc_id, n, island),
        |bef AS (
        | SELECT doc_id,
        |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
        |    AS tok_start,
        |  s - 1 AS tok_end
        | FROM mg),
        |aft AS (
        | SELECT doc_id, max(e) + 1 AS tok_start, n AS tok_end
        | FROM mg GROUP BY doc_id, n),
        |whole AS (
        | SELECT b.doc_id, 1 AS tok_start, b.n AS tok_end
        | FROM base b LEFT JOIN (SELECT DISTINCT doc_id FROM mg) m
        |   USING (doc_id)
        | WHERE m.doc_id IS NULL),
        |spans AS (SELECT * FROM bef UNION ALL SELECT * FROM aft
        |  UNION ALL SELECT * FROM whole)
        |SELECT doc_id, CAST(tok_start AS BIGINT) AS tok_start,
        | CAST(tok_end AS BIGINT) AS tok_end,
        | CAST(tok_end - tok_start + 1 AS BIGINT) AS span_toks
        |FROM spans WHERE tok_start <= tok_end
        |ORDER BY doc_id, tok_start""".stripMargin,
    "emb_kmeans" ->
      """WITH c0 AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < 16),
        |a1 AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e, c0 c),
        |m1 AS (
        |  SELECT centroid_id, d.d - 1 AS dim,
        |    sum(CAST(floor(CAST(embedding[d.d] AS DOUBLE)*1e6) AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM a1, range(1, 65) d(d) WHERE rn = 1 GROUP BY centroid_id, d.d),
        |c1 AS (
        |  SELECT centroid_id,
        |    list(CAST(CAST(s AS DOUBLE)/n/1e6 AS FLOAT) ORDER BY dim) AS c_emb
        |  FROM m1 GROUP BY centroid_id),
        |a2 AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e, c1 c),
        |m2 AS (
        |  SELECT centroid_id, d.d - 1 AS dim,
        |    sum(CAST(floor(CAST(embedding[d.d] AS DOUBLE)*1e6) AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM a2, range(1, 65) d(d) WHERE rn = 1 GROUP BY centroid_id, d.d),
        |c2 AS (
        |  SELECT centroid_id,
        |    list(CAST(CAST(s AS DOUBLE)/n/1e6 AS FLOAT) ORDER BY dim) AS c_emb
        |  FROM m2 GROUP BY centroid_id),
        |a3 AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e, c2 c),
        |m3 AS (
        |  SELECT centroid_id, d.d - 1 AS dim,
        |    sum(CAST(floor(CAST(embedding[d.d] AS DOUBLE)*1e6) AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM a3, range(1, 65) d(d) WHERE rn = 1 GROUP BY centroid_id, d.d),
        |c3 AS (
        |  SELECT centroid_id,
        |    list(CAST(CAST(s AS DOUBLE)/n/1e6 AS FLOAT) ORDER BY dim) AS c_emb
        |  FROM m3 GROUP BY centroid_id)
        |SELECT centroid_id, d.d - 1 AS dim, c_emb[d.d] AS x
        |FROM c3, range(1, 65) d(d)
        |ORDER BY centroid_id, dim""".stripMargin,
    "emb_centroids" ->
      """SELECT CAST("label" AS BIGINT) AS "label",
        | CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
        | CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT))
        |   AS BIGINT) AS sum_scaled,
        | CAST(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6)
        |   AS BIGINT)) AS BIGINT) AS DOUBLE)/count(*)/1e6 AS centroid
        |FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
        |GROUP BY "label", i ORDER BY "label", dim""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderstatus,
        | CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p1_urgent,
        | CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p2_high,
        | CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p3_medium,
        | CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p4_not_specified,
        | CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
        |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p5_low
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "rx_group_by_until" ->
      """SELECT user_id, win_id, count(*) AS n,
        | CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS win_sum,
        | min(event_id) AS first_event_id, max(event_id) AS last_event_id
        |FROM (
        | SELECT user_id, event_id, "value",
        |  CAST(coalesce(sum(CASE WHEN "value" >= 150.0 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS win_id
        | FROM events)
        |GROUP BY user_id, win_id ORDER BY user_id, win_id""".stripMargin,
    "q_moving_avg" ->
      """SELECT o_orderkey, o_custkey, o_day,
        | count(*) OVER w AS n_30d,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |  / count(*) OVER w AS avg_30d
        |FROM (SELECT o_orderkey, o_custkey,
        |  epoch_ms(o_orderdate)//86400000 AS o_day, o_totalprice FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_day
        |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "text_ngram_jaccard_capped" ->
      """WITH sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
        |p AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |k AS (SELECT source, s FROM p GROUP BY source, s
        |      HAVING count(*) <= 10),
        |kp AS (SELECT p.doc_id, p.source, p.s
        |       FROM p JOIN k USING (source, s)),
        |c AS (SELECT doc_id, count(*) AS n_sh FROM kp GROUP BY 1),
        |pairs AS (
        | SELECT a.source, a.doc_id AS doc1, b.doc_id AS doc2,
        |  count(*) AS n_common
        | FROM kp a JOIN kp b ON a.source = b.source AND a.s = b.s
        | WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3)
        |SELECT pairs.source, doc1, doc2,
        | CAST(n_common AS DOUBLE) / (c1.n_sh + c2.n_sh - n_common) AS jaccard
        |FROM pairs JOIN c c1 ON doc1 = c1.doc_id
        | JOIN c c2 ON doc2 = c2.doc_id
        |WHERE CAST(n_common AS DOUBLE) / (c1.n_sh + c2.n_sh - n_common)
        |  >= 0.02
        |ORDER BY pairs.source, doc1, doc2""".stripMargin,
    // asymmetric containment over the same capped 3-gram frame:
    // all-integral score, contained side = the smaller capped set
    "text_containment_capped" ->
      """WITH sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
        |p AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |k AS (SELECT source, s FROM p GROUP BY source, s
        |      HAVING count(*) <= 10),
        |kp AS (SELECT p.doc_id, p.source, p.s
        |       FROM p JOIN k USING (source, s)),
        |c AS (SELECT doc_id, count(*) AS n_sh FROM kp GROUP BY 1),
        |pairs AS (
        | SELECT a.source, a.doc_id AS doc1, b.doc_id AS doc2,
        |  count(*) AS n_common
        | FROM kp a JOIN kp b ON a.source = b.source AND a.s = b.s
        | WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3)
        |SELECT pairs.source, doc1, doc2,
        | CAST(n_common AS BIGINT) AS n_common,
        | CAST(least(c1.n_sh, c2.n_sh) AS BIGINT) AS n_small,
        | CAST(n_common * 1000000 // least(c1.n_sh, c2.n_sh)
        |   AS BIGINT) AS containment_ppm,
        | CASE WHEN c1.n_sh <= c2.n_sh THEN doc1 ELSE doc2 END
        |   AS contained_doc
        |FROM pairs JOIN c c1 ON doc1 = c1.doc_id
        | JOIN c c2 ON doc2 = c2.doc_id
        |WHERE n_common * 1000000 // least(c1.n_sh, c2.n_sh) >= 50000
        |ORDER BY pairs.source, doc1, doc2""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.late
        | AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
        |             AND l2.l_suppkey <> l1.l_suppkey)
        | AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey
        |             AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM ps GROUP BY 1)
        |SELECT p_partkey, s_suppkey, s_name, s_acctbal, unit_cost
        |FROM ps JOIN m USING (l_partkey)
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |WHERE unit_cost = min_cost AND p_size <= 5
        |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100""".stripMargin,
    "q11_important_parts" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE) AS part_rev
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE) AS total_rev FROM lineitem)
        |SELECT l_partkey AS p_partkey, part_rev
        |FROM rev CROSS JOIN tot
        |WHERE part_rev > 0.0008 * total_rev
        |ORDER BY part_rev DESC, p_partkey""".stripMargin,
    "q20_prolific_suppliers" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_size <= 10
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 80)
        |ORDER BY s_suppkey""".stripMargin,
    "q_window_suite" ->
      """SELECT o_orderkey,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY epoch_ms(o_orderdate), o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "text_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM d),
        |stats AS (SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)/count(*)
        |    AS avgdl, CAST(count(*) AS BIGINT) AS n FROM dl),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM d)
        |  WHERE t IN ('spark','join','window','stream') GROUP BY 1,2),
        |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |   CAST(((n - df + 0.5)/(df + 0.5)) *
        |        ((tf*2.2)/(tf + 1.2*(0.25 + 0.75*(dl/avgdl))))
        |     AS DECIMAL(18,6)) AS s
        |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(sum(s) AS DOUBLE) AS bm25 FROM sc
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH sh AS (
        | SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS s
        | FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
        |cnt AS (SELECT doc_id, s, CAST(count(*) AS BIGINT) AS c
        |  FROM sh GROUP BY 1,2)
        |SELECT doc_id,
        |  CAST(max(c) AS DOUBLE)/CAST(sum(c) AS BIGINT) AS rep_ratio,
        |  CAST(max(c) AS BIGINT) AS max_rep
        |FROM cnt GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "ann_range" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |      * list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos_sim FROM s
        |WHERE cos_sim >= 0.15 ORDER BY query_id, neighbor_id""".stripMargin,
    "rx_exhaust_map" ->
      """WITH RECURSIVE tr AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'click'),
        |walk AS (
        |  SELECT user_id, event_id, t, rn, TRUE AS accepted,
        |         t + 1800000 AS exhaust_end
        |  FROM tr WHERE rn = 1
        |  UNION ALL
        |  SELECT tr.user_id, tr.event_id, tr.t, tr.rn,
        |         tr.t >= w.exhaust_end AS accepted,
        |         CASE WHEN tr.t >= w.exhaust_end THEN tr.t + 1800000
        |              ELSE w.exhaust_end END
        |  FROM walk w JOIN tr ON tr.user_id = w.user_id AND tr.rn = w.rn + 1)
        |SELECT user_id, event_id, t AS ts_ms, exhaust_end AS end_ms
        |FROM walk WHERE accepted ORDER BY user_id, event_id""".stripMargin,
    "rx_fork_join" ->
      """SELECT user_id,
        |  arg_max("value", event_id) FILTER (event_type='click')
        |    AS last_click,
        |  arg_max("value", event_id) FILTER (event_type='view')
        |    AS last_view,
        |  arg_max("value", event_id) FILTER (event_type='purchase')
        |    AS last_purchase
        |FROM events GROUP BY user_id
        |HAVING last_click IS NOT NULL AND last_view IS NOT NULL
        |   AND last_purchase IS NOT NULL
        |ORDER BY user_id""".stripMargin,
    "asof_forward" ->
      """SELECT event_id, user_id, purchase_value, click_event_id, click_value
        |FROM (
        | SELECT event_id, user_id, event_type, "value" AS purchase_value,
        |  first_value(CASE WHEN event_type = 'click' THEN event_id END
        |    IGNORE NULLS) OVER w AS click_event_id,
        |  first_value(CASE WHEN event_type = 'click' THEN "value" END
        |    IGNORE NULLS) OVER w AS click_value
        | FROM events WHERE event_type IN ('click','purchase')
        | WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "asof_nearest" ->
      """SELECT event_id, user_id, purchase_value,
        |  CASE WHEN pick_b THEN b_eid ELSE f_eid END AS click_event_id,
        |  CASE WHEN pick_b THEN b_val ELSE f_val END AS click_value
        |FROM (
        | SELECT *, f_eid IS NULL OR (b_eid IS NOT NULL
        |   AND (event_id - b_eid) <= (f_eid - event_id)) AS pick_b
        | FROM (
        |  SELECT event_id, user_id, event_type, "value" AS purchase_value,
        |   last_value(CASE WHEN event_type = 'click' THEN event_id END
        |     IGNORE NULLS) OVER wb AS b_eid,
        |   last_value(CASE WHEN event_type = 'click' THEN "value" END
        |     IGNORE NULLS) OVER wb AS b_val,
        |   first_value(CASE WHEN event_type = 'click' THEN event_id END
        |     IGNORE NULLS) OVER wf AS f_eid,
        |   first_value(CASE WHEN event_type = 'click' THEN "value" END
        |     IGNORE NULLS) OVER wf AS f_val
        |  FROM events WHERE event_type IN ('click','purchase')
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |   wf AS (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "asof_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, "value" AS purchase_value
        |  FROM events WHERE event_type='purchase'),
        |c AS (SELECT event_id, user_id, "value" FROM events
        |  WHERE event_type='click')
        |SELECT p.event_id, p.user_id, p.purchase_value,
        |  CASE WHEN bwd.event_id IS NOT NULL AND (fwd.event_id IS NULL
        |       OR p.event_id - bwd.event_id <= fwd.event_id - p.event_id)
        |       THEN bwd.event_id ELSE fwd.event_id END AS click_event_id,
        |  CASE WHEN bwd.event_id IS NOT NULL AND (fwd.event_id IS NULL
        |       OR p.event_id - bwd.event_id <= fwd.event_id - p.event_id)
        |       THEN bwd."value" ELSE fwd."value" END AS click_value
        |FROM p
        |LEFT JOIN LATERAL (SELECT c.event_id, c."value" FROM c
        |  WHERE c.user_id = p.user_id AND c.event_id <= p.event_id
        |    AND p.event_id - c.event_id <= 50
        |  ORDER BY c.event_id DESC LIMIT 1) bwd ON TRUE
        |LEFT JOIN LATERAL (SELECT c.event_id, c."value" FROM c
        |  WHERE c.user_id = p.user_id AND c.event_id >= p.event_id
        |    AND c.event_id - p.event_id <= 50
        |  ORDER BY c.event_id LIMIT 1) fwd ON TRUE
        |ORDER BY p.event_id""".stripMargin,
    "rx_resample" ->
      """WITH b AS (SELECT user_id, epoch_ms(date_trunc('day', min(ts))) AS t0,
        |                  epoch_ms(date_trunc('day', max(ts))) AS t1
        |           FROM events GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(t0, t1, 86400000))
        |           AS g FROM b),
        |pts AS (
        |  SELECT user_id, g AS t, 1 AS is_grid, CAST(NULL AS DOUBLE) AS v,
        |         1 AS tag, CAST(-1 AS BIGINT) AS eid FROM grid
        |  UNION ALL
        |  SELECT user_id, epoch_ms(ts), 0, "value", 0, event_id FROM events),
        |f AS (SELECT user_id, t, is_grid,
        |        last_value(v IGNORE NULLS) OVER (
        |          PARTITION BY user_id ORDER BY t, tag, eid
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
        |      FROM pts)
        |SELECT user_id, t AS grid_ms, fv AS "value" FROM f WHERE is_grid = 1
        |ORDER BY user_id, grid_ms""".stripMargin,
    "rx_rolling_stats" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS roll_sum,
        |  CAST(count(*) OVER w AS BIGINT) AS roll_n,
        |  (CAST(count(*) OVER w AS BIGINT)
        |     * CAST(sum(CAST("value"*"value" AS DECIMAL(18,4))) OVER w
        |         AS DOUBLE)
        |   - CAST(sum(CAST("value" AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |     * CAST(sum(CAST("value" AS DECIMAL(18,2))) OVER w AS DOUBLE))
        |  / (CAST(count(*) OVER w AS BIGINT)
        |     * (CAST(count(*) OVER w AS BIGINT) - 1)) AS roll_var
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |QUALIFY count(*) OVER w >= 2
        |ORDER BY event_id""".stripMargin,
    "rx_group_concat" ->
      """SELECT user_id,
        |  string_agg(CAST(event_type AS VARCHAR), ','
        |    ORDER BY event_id) AS seq,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE event_id % 50 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, max(cnt) AS mx FROM c GROUP BY 1)
        |SELECT c.user_id, min(event_type) AS mode_type,
        |  CAST(mx AS BIGINT) AS mode_n
        |FROM c JOIN m ON c.user_id = m.user_id AND cnt = mx
        |GROUP BY c.user_id, mx ORDER BY c.user_id""".stripMargin,
    "rx_calendar" ->
      """SELECT year(ts) AS y, month(ts) AS m,
        |  (epoch_ms(ts)//86400000 + 4) % 7 AS dow,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "rx_cohort_retention" ->
      """WITH days AS (SELECT user_id, epoch_ms(ts)//86400000 AS day
        |  FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day
        |  FROM days GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS offset_days,
        |  CAST(count(DISTINCT days.user_id) AS BIGINT) AS active_users
        |FROM days JOIN cohort ON days.user_id = cohort.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sample_per_key" ->
      """SELECT user_id, event_id, "value"
        |FROM (SELECT user_id, event_id, "value",
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,
    "dedup_keep_best" ->
      """WITH RECURSIVE
        |sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |pairs AS (
        | SELECT doc1, doc2 FROM (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |  FROM post a JOIN post b
        |   ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) c
        | JOIN sz s1 ON s1.doc_id = c.doc1
        | JOIN sz s2 ON s2.doc_id = c.doc2
        | WHERE CAST(c.n_common AS DOUBLE)
        |   / (s1.n + s2.n - c.n_common) >= 0.2),
        |edges AS (
        | SELECT doc1 AS a, doc2 AS b FROM pairs
        | UNION ALL SELECT doc2, doc1 FROM pairs),
        |reach(node, lab) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a),
        |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
        |  FROM reach GROUP BY node),
        |q AS (SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS score
        |  FROM documents),
        |j AS (SELECT cluster_id, cc.doc_id, score
        |  FROM cc JOIN q USING (doc_id)),
        |m AS (SELECT cluster_id, max(score) AS best_score,
        |  CAST(count(*) AS BIGINT) AS n_members FROM j GROUP BY 1)
        |SELECT m.cluster_id, min(j.doc_id) AS canonical_doc,
        |  CAST(best_score AS BIGINT) AS best_score, n_members
        |FROM m JOIN j ON j.cluster_id = m.cluster_id
        |  AND j.score = m.best_score
        |GROUP BY m.cluster_id, best_score, n_members
        |ORDER BY m.cluster_id""".stripMargin,
    // same CC construction as dedup_keep_best; fold = first 28
    // md5 bits of the CLUSTER id mod k (the importanceSample draw)
    "pipeline_grouped_kfold" ->
      """WITH RECURSIVE
        |sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |pairs AS (
        | SELECT doc1, doc2 FROM (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |  FROM post a JOIN post b
        |   ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) c
        | JOIN sz s1 ON s1.doc_id = c.doc1
        | JOIN sz s2 ON s2.doc_id = c.doc2
        | WHERE CAST(c.n_common AS DOUBLE)
        |   / (s1.n + s2.n - c.n_common) >= 0.2),
        |edges AS (
        | SELECT doc1 AS a, doc2 AS b FROM pairs
        | UNION ALL SELECT doc2, doc1 FROM pairs),
        |reach(node, lab) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a),
        |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
        |  FROM reach GROUP BY node),
        |f AS (SELECT doc_id,
        |  ('0x' || substr(md5('kf:' || CAST(cluster_id AS VARCHAR)), 1, 7))
        |    ::BIGINT % 5 AS fold, cluster_id
        | FROM cc),
        |tk AS (SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tk
        | FROM documents)
        |SELECT fold, CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(tk) AS BIGINT) AS n_tokens
        |FROM f JOIN tk USING (doc_id)
        |GROUP BY fold ORDER BY fold""".stripMargin,
    "source_overlap" ->
      """WITH sh AS (
        | SELECT DISTINCT source, unnest(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS s
        | FROM documents WHERE len(string_split(lower(text), ' ')) >= 3)
        |SELECT a.source AS source1, b.source AS source2,
        |  CAST(count(*) AS BIGINT) AS n_common
        |FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pack_sequences" ->
      """WITH RECURSIVE d AS (
        |  SELECT source,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1
        |    END AS shard,
        |    doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source,
        |      CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1)
        |           IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1
        |      END
        |      ORDER BY doc_id) AS rn
        |  FROM documents),
        |walk AS (
        |  SELECT source, shard, doc_id, n_chars, rn,
        |         0 AS bin_id, n_chars AS bin_sum
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.shard, d.doc_id, d.n_chars, d.rn,
        |    CASE WHEN w.bin_sum + d.n_chars > 4096
        |         THEN w.bin_id + 1 ELSE w.bin_id END,
        |    CASE WHEN w.bin_sum + d.n_chars > 4096
        |         THEN d.n_chars ELSE w.bin_sum + d.n_chars END
        |  FROM walk w JOIN d
        |    ON d.source = w.source AND d.shard = w.shard
        |   AND d.rn = w.rn + 1)
        |SELECT source, CAST(shard AS INT) AS shard,
        |  CAST(bin_id AS BIGINT) AS bin_id,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bin_chars,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM walk GROUP BY source, shard, bin_id
        |ORDER BY source, shard, bin_id""".stripMargin,
    "dedup_incremental" ->
      """WITH h AS (SELECT doc_id, source,
        |  md5(lower(trim(text))) AS content_hash FROM documents),
        |corpus AS (SELECT DISTINCT content_hash FROM h
        |  WHERE source NOT IN ('src16','src17','src18','src19')),
        |batch AS (SELECT * FROM h
        |  WHERE source IN ('src16','src17','src18','src19'))
        |SELECT doc_id, source, content_hash FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c
        |  WHERE c.content_hash = b.content_hash)
        |QUALIFY row_number() OVER (PARTITION BY content_hash
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "pipeline_mixture" ->
      """WITH c AS (
        |  SELECT source,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(w) AS tw FROM c),
        |quota AS (
        |  SELECT source, CAST(greatest(1, (100 * w) // tw) AS BIGINT)
        |    AS quota
        |  FROM c, t)
        |SELECT doc_id, d.source, quota FROM documents d
        |JOIN quota q ON d.source = q.source
        |QUALIFY row_number() OVER (PARTITION BY d.source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= quota
        |ORDER BY doc_id""".stripMargin,
    "pipeline_ingest" ->
      """WITH RECURSIVE h AS (SELECT doc_id, source,
        |  md5(lower(trim(text))) AS content_hash FROM documents),
        |corpus AS (SELECT DISTINCT content_hash FROM h
        |  WHERE source NOT IN ('src16','src17','src18','src19')),
        |batch AS (SELECT * FROM h
        |  WHERE source IN ('src16','src17','src18','src19')),
        |adm AS (
        |  SELECT doc_id FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c
        |    WHERE c.content_hash = b.content_hash)
        |  QUALIFY row_number() OVER (PARTITION BY content_hash
        |    ORDER BY doc_id) = 1),
        |d AS (
        |  SELECT d.source,
        |    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)),1,1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1
        |    END AS shard,
        |    d.doc_id, d.n_chars,
        |    row_number() OVER (PARTITION BY d.source,
        |      CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)),1,1)
        |           IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1
        |      END
        |      ORDER BY d.doc_id) AS rn
        |  FROM documents d JOIN adm USING (doc_id)
        |  WHERE d.n_chars >= 150),
        |walk AS (
        |  SELECT source, shard, doc_id, n_chars, rn, 0 AS bin_id,
        |         n_chars AS bin_sum
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.shard, d.doc_id, d.n_chars, d.rn,
        |    CASE WHEN w.bin_sum + d.n_chars > 2048
        |         THEN w.bin_id + 1 ELSE w.bin_id END,
        |    CASE WHEN w.bin_sum + d.n_chars > 2048
        |         THEN d.n_chars ELSE w.bin_sum + d.n_chars END
        |  FROM walk w JOIN d ON d.source = w.source
        |    AND d.shard = w.shard AND d.rn = w.rn + 1)
        |SELECT source, CAST(shard AS INT) AS shard,
        |  CAST(bin_id AS BIGINT) AS bin_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS bin_chars,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM walk GROUP BY source, shard, bin_id
        |ORDER BY source, shard, bin_id""".stripMargin,
    "rx_json_props" ->
      """SELECT user_id, event_type,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_set_ops" ->
      """SELECT c_custkey, 'both' AS bucket FROM (
        |  SELECT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |UNION ALL
        |SELECT c_custkey, 'only_96' AS bucket FROM (
        |  SELECT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  EXCEPT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |ORDER BY bucket, c_custkey""".stripMargin,
    "source_percentiles" ->
      """SELECT source, quantile_cont(tok, 0.5) AS p50,
        |       quantile_cont(tok, 0.9) AS p90,
        |       quantile_cont(tok, 0.99) AS p99,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT source, len(string_split(lower(text),' ')) AS tok
        |      FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "dedup_edit_verify" ->
      """WITH sh AS (
        | SELECT doc_id, source, list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |pairs AS (
        | SELECT c.source, c.doc1, c.doc2,
        |  CAST(c.n_common AS DOUBLE)
        |   / (s1.n + s2.n - c.n_common) AS jaccard
        | FROM (
        |  SELECT a.source, a.doc_id AS doc1, b.doc_id AS doc2,
        |   count(*) AS n_common
        |  FROM post a JOIN post b
        |   ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3) c
        | JOIN sz s1 ON s1.doc_id = c.doc1
        | JOIN sz s2 ON s2.doc_id = c.doc2
        | WHERE CAST(c.n_common AS DOUBLE)
        |   / (s1.n + s2.n - c.n_common) >= 0.2)
        |SELECT p.source, doc1, doc2, p.jaccard,
        |  CAST(levenshtein(substring(lower(d1.text),1,64),
        |       substring(lower(d2.text),1,64)) AS BIGINT) AS edit64
        |FROM pairs p JOIN documents d1 ON doc1 = d1.doc_id
        |             JOIN documents d2 ON doc2 = d2.doc_id
        |ORDER BY p.source, doc1, doc2""".stripMargin,
    "rx_partition" ->
      """SELECT event_id, user_id, value,
        |  CASE WHEN value >= 100.0 THEN 'pass' ELSE 'fail' END AS part
        |FROM events ORDER BY event_id""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        | AND o_orderpriority = '1-URGENT'
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_skew_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_skew_agg" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_dec,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (
        | SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
        |        CAST(c_nationkey AS BIGINT) AS c_nationkey
        | FROM customer WHERE c_acctbal > 1000.0),
        |upd AS (
        | SELECT o_custkey AS c_custkey,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS bal
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY 1)
        |SELECT COALESCE(b.c_custkey, u.c_custkey) AS c_custkey,
        |  CAST(COALESCE(u.bal, b.bal) AS DOUBLE) AS c_acctbal,
        |  b.c_nationkey,
        |  CASE WHEN b.c_custkey IS NULL THEN 'insert'
        |       WHEN u.c_custkey IS NULL THEN 'keep'
        |       ELSE 'update' END AS merge_action
        |FROM base b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "pipeline_shard" ->
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |    doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST((rn-1) % 8 AS INT) AS shard,
        |  CAST((rn-1) // 8 AS BIGINT) AS pos_in_shard
        |FROM r ORDER BY doc_id""".stripMargin,
    "pipeline_split" ->
      """SELECT doc_id, source, n_chars,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'f0'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'f8'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "rx_resample_interp" ->
      """WITH b AS (SELECT user_id, epoch_ms(date_trunc('day', min(ts))) AS t0,
        |                  epoch_ms(date_trunc('day', max(ts))) AS t1
        |           FROM events GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(t0, t1, 86400000))
        |           AS g FROM b),
        |pts AS (
        |  SELECT user_id, g AS t, 1 AS is_grid, CAST(NULL AS DOUBLE) AS v,
        |         1 AS tag, CAST(-1 AS BIGINT) AS eid FROM grid
        |  UNION ALL
        |  SELECT user_id, epoch_ms(ts), 0, "value", 0, event_id FROM events),
        |f AS (SELECT user_id, t, is_grid,
        |        last_value(CASE WHEN is_grid = 0
        |            THEN struct_pack(t := t, v := v) END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY t, tag, eid
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prv,
        |        first_value(CASE WHEN is_grid = 0
        |            THEN struct_pack(t := t, v := v) END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY t, tag, eid
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        |      FROM pts)
        |SELECT user_id, t AS grid_ms,
        |  CASE WHEN prv IS NULL THEN (nxt).v
        |       WHEN nxt IS NULL THEN (prv).v
        |       WHEN (nxt).t = (prv).t THEN (prv).v
        |       ELSE (prv).v + ((nxt).v - (prv).v)
        |         * CAST(t - (prv).t AS DOUBLE)
        |         / CAST((nxt).t - (prv).t AS DOUBLE) END AS "value"
        |FROM f WHERE is_grid = 1 ORDER BY user_id, grid_ms""".stripMargin,
    "rx_funnel" ->
      """WITH s1 AS (SELECT user_id, event_type, event_id,
        |  min(CASE WHEN event_type = 'view' THEN event_id END)
        |    OVER (PARTITION BY user_id) AS t1 FROM events),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |    AND event_id > t1 THEN event_id END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |    AND event_id > t2 THEN event_id END)
        |    OVER (PARTITION BY user_id) AS t3 FROM s2)
        |SELECT user_id, min(t1) AS view_id, min(t2) AS click_id,
        |  min(t3) AS purchase_id,
        |  CAST(CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN min(t3) IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS reached_stage
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_variance" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        | (CAST(count(*) AS BIGINT)
        |    * CAST(sum(CAST("value"*"value" AS DECIMAL(28,4))) AS DOUBLE)
        |  - CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE)
        |    * CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE))
        | / (CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) - 1))
        |   AS var_samp,
        | sqrt((CAST(count(*) AS BIGINT)
        |    * CAST(sum(CAST("value"*"value" AS DECIMAL(28,4))) AS DOUBLE)
        |  - CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE)
        |    * CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE))
        | / (CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) - 1)))
        |   AS stddev_samp
        |FROM events GROUP BY user_id HAVING count(*) >= 2
        |ORDER BY user_id""".stripMargin,
    "rx_rolling_median" ->
      """SELECT event_id, user_id,
        |  quantile_cont("value", 0.5) OVER w AS roll_median,
        |  CAST(count(*) OVER w AS BIGINT) AS roll_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |QUALIFY count(*) OVER w >= 2
        |ORDER BY event_id""".stripMargin,
    "rx_trend_correlation" ->
      """WITH e AS (SELECT user_id, "value",
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS x FROM events),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST("value" * "value" AS DECIMAL(28,4))) AS DOUBLE)
        |    AS syy,
        |  CAST(sum(CAST(x * "value" AS DECIMAL(28,4))) AS DOUBLE) AS sxy
        | FROM e GROUP BY user_id)
        |SELECT user_id, n,
        |  (n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    AS trend_r
        |FROM m WHERE n >= 3 AND n * syy - sy * sy > 0
        |ORDER BY user_id""".stripMargin,
    // Spearman: Pearson over INTEGER ranks (arrival row_number,
    // min-rank value ties — identical conventions both engines), so
    // every sum is BIGINT-exact and only the final quotient is float
    "rx_spearman" ->
      """WITH e AS (SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS a,
        |  rank() OVER (PARTITION BY user_id ORDER BY "value") AS b
        | FROM events),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |  CAST(sum(a * a) AS BIGINT) AS saa,
        |  CAST(sum(b * b) AS BIGINT) AS sbb,
        |  CAST(sum(a * b) AS BIGINT) AS sab
        | FROM e GROUP BY user_id)
        |SELECT user_id, n,
        |  CAST(n * sab - sa * sb AS DOUBLE)
        |    / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
        |       * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
        |    AS spearman_rho
        |FROM m WHERE n >= 3 AND n * sbb - sb * sb > 0
        |ORDER BY user_id""".stripMargin,
    // SAX: integer-grid PAA segments, centi-unit exact means, rank-
    // equidepth quartile symbols — every step integral, both engines
    "rx_sax" ->
      """WITH e AS (SELECT user_id, "value",
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM events),
        |p AS (SELECT user_id, n, (rn - 1) * 8 // n AS seg,
        |   CAST("value" AS DECIMAL(18,2)) AS v
        | FROM e),
        |paa AS (SELECT user_id, n, seg,
        |   CAST(sum(v * 100) AS BIGINT) // count(*) AS paa_centi
        | FROM p GROUP BY 1, 2, 3),
        |rk AS (SELECT user_id, n, seg,
        |   (row_number() OVER (ORDER BY paa_centi, user_id, seg) - 1)
        |     * 4 // (count(*) OVER ()) AS sym
        | FROM paa)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  string_agg(CAST(sym AS VARCHAR), '' ORDER BY seg) AS sax
        |FROM rk GROUP BY user_id, n ORDER BY user_id""".stripMargin,
    // LIS: the identical patience-tails fold, list_reduce in DuckDB
    // / aggregate() in Spark — integer output, engine-exact
    "rx_lis" ->
      """WITH e AS (SELECT user_id, "value",
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS rn
        | FROM events),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  list_transform(list("value" ORDER BY rn), v -> [v]) AS vs
        | FROM e GROUP BY user_id),
        |f AS (SELECT user_id, n, list_reduce(vs,
        |  (tails, x) -> CASE
        |    WHEN len(list_filter(tails, t -> t < x[1])) = len(tails)
        |      THEN list_append(tails, x[1])
        |    ELSE list_concat(list_concat(
        |        tails[1:len(list_filter(tails, t -> t < x[1]))],
        |        [x[1]]),
        |        tails[len(list_filter(tails, t -> t < x[1])) + 2:])
        |    END) AS tails
        | FROM s)
        |SELECT user_id, n, CAST(len(tails) AS BIGINT) AS lis_len
        |FROM f ORDER BY user_id""".stripMargin,
    // Kendall tau_a over the capped last-32 frame: the oracle counts
    // the same pairs with a plain self-join — different plan from
    // the engine's HOF fold, identical integers
    "rx_kendall_tau" ->
      """WITH lastn AS (SELECT user_id, event_id, "value",
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY event_id DESC) AS rn
        | FROM events),
        |k AS (SELECT user_id, event_id, "value" FROM lastn
        |  WHERE rn <= 32),
        |p AS (SELECT a.user_id,
        |   CASE WHEN b."value" > a."value" THEN 1 ELSE 0 END AS conc,
        |   CASE WHEN b."value" < a."value" THEN 1 ELSE 0 END AS disc
        |  FROM k a JOIN k b ON a.user_id = b.user_id
        |    AND a.event_id < b.event_id),
        |c AS (SELECT user_id, CAST(sum(conc) AS BIGINT) AS conc,
        |   CAST(sum(disc) AS BIGINT) AS disc FROM p GROUP BY user_id),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        | FROM k GROUP BY user_id)
        |SELECT m.user_id, m.n AS n_points,
        |  m.n * (m.n - 1) // 2 AS n_pairs,
        |  coalesce(c.conc, 0) AS n_concordant,
        |  coalesce(c.disc, 0) AS n_discordant,
        |  m.n * (m.n - 1) // 2 - coalesce(c.conc, 0)
        |    - coalesce(c.disc, 0) AS n_value_ties,
        |  CASE WHEN m.n >= 2 THEN (coalesce(c.conc, 0)
        |    - coalesce(c.disc, 0)) * 1000000 // (m.n * (m.n - 1) // 2)
        |   ELSE 0 END AS tau_a_ppm
        |FROM m LEFT JOIN c USING (user_id)
        |ORDER BY m.user_id""".stripMargin,
    // raw autocovariance cross-products at lags 0..3 — exact BIGINT
    // centi-unit sums (lead windows, no normalization)
    "rx_xcorr" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        | FROM events),
        |w AS (SELECT user_id, c,
        |  lead(c, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS c1,
        |  lead(c, 2) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS c2,
        |  lead(c, 3) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS c3
        | FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(c * c), 0) AS BIGINT) AS xcorr0,
        |  CAST(coalesce(sum(c * c1), 0) AS BIGINT) AS xcorr1,
        |  CAST(coalesce(sum(c * c2), 0) AS BIGINT) AS xcorr2,
        |  CAST(coalesce(sum(c * c3), 0) AS BIGINT) AS xcorr3
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    // out-closeness: the SSSP recursion with a source dimension —
    // (src, node) distances, per-source reach + total at level 30
    "graph_closeness" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT CAST(s_nationkey AS BIGINT) AS esrc,
        |    CAST(c_nationkey AS BIGINT) AS edst,
        |    greatest(1, 1000000 // count(*)) AS cost
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |nn AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
        |bf(it, src, node, d) AS (
        |  SELECT 0, a.node, b.node,
        |    CASE WHEN a.node = b.node THEN CAST(0 AS BIGINT) END
        |  FROM nn a, nn b
        |  UNION ALL
        |  SELECT it + 1, src, node, min(d) FROM (
        |    SELECT bf.it AS it, bf.src AS src, bf.node AS node,
        |      bf.d AS d
        |    FROM bf WHERE bf.it < 30
        |    UNION ALL
        |    SELECT bf.it, bf.src, e.edst, bf.d + e.cost
        |    FROM bf JOIN e ON bf.node = e.esrc
        |    WHERE bf.d IS NOT NULL AND bf.it < 30
        |  ) GROUP BY 1, 2, 3)
        |SELECT n_name, src AS node,
        |  CAST(coalesce(sum(CASE WHEN d IS NOT NULL THEN 1 END), 0)
        |    AS BIGINT) AS n_reachable,
        |  CAST(coalesce(sum(d), 0) AS BIGINT) AS total_dist
        |FROM bf JOIN nation ON src = CAST(n_nationkey AS BIGINT)
        |WHERE it = 30 GROUP BY n_name, src
        |ORDER BY src""".stripMargin,
    // mean-crossing stats: sign classes from exact decimal
    // comparisons (v·n vs Σv), flips over the nonzero subsequence,
    // gaps-and-islands longest above-mean run
    "rx_sign_changes" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST("value" AS DECIMAL(18,2)) AS v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n,
        |  sum(CAST("value" AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id) AS sv
        | FROM events),
        |sg AS (SELECT user_id, event_id, rn, n,
        |  CASE WHEN v * n > sv THEN 1
        |       WHEN v * n < sv THEN -1 ELSE 0 END AS s
        | FROM e),
        |fl AS (SELECT user_id,
        |  coalesce(sum(CASE WHEN prev IS NOT NULL AND prev <> s
        |    THEN 1 END), 0) AS n_flips
        | FROM (SELECT user_id, s,
        |    lag(s) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS prev
        |   FROM sg WHERE s <> 0) GROUP BY user_id),
        |runs AS (SELECT user_id, max(len) AS max_above_run FROM (
        |  SELECT user_id, grp, count(*) AS len FROM (
        |    SELECT user_id, s, rn - row_number() OVER (
        |      PARTITION BY user_id, s ORDER BY event_id) AS grp
        |    FROM sg) WHERE s = 1 GROUP BY user_id, grp)
        | GROUP BY user_id)
        |SELECT u.user_id, CAST(u.n AS BIGINT) AS n,
        |  CAST(coalesce(fl.n_flips, 0) AS BIGINT) AS n_flips,
        |  CAST(coalesce(runs.max_above_run, 0) AS BIGINT)
        |    AS max_above_run
        |FROM (SELECT DISTINCT user_id, n FROM sg) u
        |LEFT JOIN fl USING (user_id) LEFT JOIN runs USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // SSSP: level-synchronous Bellman-Ford as a recursive CTE with a
    // per-level min aggregation; 30 fixed levels >= any diameter the
    // 25-node trade graph can have, so level 30 IS the fixpoint
    "graph_sssp" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT CAST(s_nationkey AS BIGINT) AS esrc,
        |    CAST(c_nationkey AS BIGINT) AS edst,
        |    greatest(1, 1000000 // count(*)) AS cost
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |bf(it, node, d) AS (
        |  SELECT 0, CAST(n_nationkey AS BIGINT),
        |    CASE WHEN n_nationkey = 0 THEN CAST(0 AS BIGINT) END
        |  FROM nation
        |  UNION ALL
        |  SELECT it + 1, node, min(d) FROM (
        |    SELECT bf.it AS it, bf.node AS node, bf.d AS d
        |    FROM bf WHERE bf.it < 30
        |    UNION ALL
        |    SELECT bf.it, e.edst, bf.d + e.cost
        |    FROM bf JOIN e ON bf.node = e.esrc
        |    WHERE bf.d IS NOT NULL AND bf.it < 30
        |  ) GROUP BY 1, 2)
        |SELECT n_name, node, coalesce(d, -1) AS dist
        |FROM bf JOIN nation ON node = CAST(n_nationkey AS BIGINT)
        |WHERE it = 30 ORDER BY node""".stripMargin,
    // indexed wave admission: the md5 minhash band family
    // (union_cluster's CTEs) split corpus-vs-wave, jaccard verify,
    // one verdict row per shingle-bearing wave doc
    "dedup_admit_indexed" ->
      """WITH tk AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS tk
        |  FROM documents),
        |msh AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM tk WHERE len(tk) >= 3),
        |dsh AS MATERIALIZED (
        |  SELECT doc_id, source, list_distinct(sh) AS ds FROM msh),
        |mpost AS (SELECT doc_id, s.s
        |  FROM msh, unnest(msh.sh) AS s(s)),
        |mhv AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h
        |  FROM mpost),
        |mseeds AS (
        |  SELECT j.j AS j,
        |    1 + (('0x' || substr(md5('a:' || j.j), 1, 15))::BIGINT
        |         % 2147483646) AS a,
        |    ('0x' || substr(md5('b:' || j.j), 1, 15))::BIGINT
        |      % 2147483647 AS b
        |  FROM range(0, 64) j(j)),
        |mmins AS (
        |  SELECT doc_id, j, min((a * h + b) % 2147483647) AS m
        |  FROM mhv, mseeds GROUP BY doc_id, j),
        |mbands AS MATERIALIZED (
        |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |    ('0x' || substr(md5(array_to_string(
        |      list(CAST(m AS VARCHAR) ORDER BY j), '|')), 1, 15))
        |      ::BIGINT AS bh
        |  FROM mmins GROUP BY doc_id, j // 4),
        |cand AS (
        |  SELECT DISTINCT c.doc_id AS doc1, w.doc_id AS doc2
        |  FROM mbands c
        |  JOIN dsh dc ON dc.doc_id = c.doc_id AND dc.source NOT IN
        |    ('src16', 'src17', 'src18', 'src19')
        |  JOIN mbands w ON c.band = w.band AND c.bh = w.bh
        |  JOIN dsh dw ON dw.doc_id = w.doc_id AND dw.source IN
        |    ('src16', 'src17', 'src18', 'src19')),
        |ver AS (
        |  SELECT doc2,
        |    CAST(len(list_intersect(a.ds, b.ds)) AS DOUBLE) /
        |      (len(a.ds) + len(b.ds)
        |        - len(list_intersect(a.ds, b.ds))) AS j
        |  FROM cand JOIN dsh a ON a.doc_id = cand.doc1
        |            JOIN dsh b ON b.doc_id = cand.doc2),
        |roll AS (
        |  SELECT doc2 AS doc_id,
        |    coalesce(sum(CASE WHEN j >= 0.5 THEN 1 END), 0) AS n_dup,
        |    coalesce(max(CASE WHEN j >= 0.5
        |      THEN CAST(floor(j * 1e6) AS BIGINT) END), -1)
        |      AS best_j_scaled
        |  FROM ver GROUP BY doc2)
        |SELECT w.doc_id,
        |  CAST(coalesce(r.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(coalesce(r.best_j_scaled, -1) AS BIGINT)
        |    AS best_j_scaled,
        |  coalesce(r.n_dup, 0) = 0 AS admitted
        |FROM (SELECT doc_id FROM dsh WHERE source IN
        |  ('src16', 'src17', 'src18', 'src19')) w
        |LEFT JOIN roll r USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    // per-node dyad reciprocity over the distinct trade edge set
    "graph_reciprocity" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS a,
        |    CAST(c_nationkey AS BIGINT) AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey <> c_nationkey),
        |r AS (SELECT e.a, CAST(count(*) AS BIGINT) AS n_recip
        |  FROM e WHERE EXISTS (SELECT 1 FROM e r2
        |    WHERE r2.a = e.b AND r2.b = e.a)
        |  GROUP BY e.a),
        |o AS (SELECT a, CAST(count(*) AS BIGINT) AS n_out
        |  FROM e GROUP BY a)
        |SELECT n_name, o.a AS node, n_out,
        |  CAST(coalesce(n_recip, 0) AS BIGINT) AS n_recip,
        |  coalesce(n_recip, 0) * 1000000 // n_out AS recip_ppm
        |FROM o LEFT JOIN r USING (a)
        |JOIN nation ON o.a = CAST(n_nationkey AS BIGINT)
        |ORDER BY node""".stripMargin,
    // Tukey fences on exact discrete quartiles (integer cents)
    "q_tukey_outliers" ->
      """WITH o AS (SELECT o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents FROM orders),
        |rk AS (SELECT o_orderpriority, cents,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents) AS r,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n
        | FROM o),
        |q AS (SELECT o_orderpriority,
        |  CAST(min(cents) AS BIGINT) AS q1,
        |  CAST(max(cents) AS BIGINT) AS q3
        | FROM rk WHERE r = greatest(1, n // 4)
        |    OR r = greatest(1, (3 * n) // 4)
        | GROUP BY o_orderpriority),
        |f AS (SELECT o_orderpriority, q1, q3,
        |  q1 - (3 * (q3 - q1)) // 2 AS lo,
        |  q3 + (3 * (q3 - q1)) // 2 AS hi FROM q)
        |SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  max(q1) AS q1_cents, max(q3) AS q3_cents,
        |  CAST(coalesce(sum(CASE WHEN cents < lo THEN 1 END), 0)
        |    AS BIGINT) AS n_low,
        |  CAST(coalesce(sum(CASE WHEN cents > hi THEN 1 END), 0)
        |    AS BIGINT) AS n_high
        |FROM o JOIN f USING (o_orderpriority)
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // deterministic minority oversampling to the largest class
    "pipeline_class_upsample" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cn
        |  FROM documents GROUP BY lang),
        |t AS (SELECT max(cn) AS target FROM c),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY
        |    md5('cu:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS rank_in_class
        | FROM documents),
        |nc AS (SELECT r.doc_id, r.lang,
        |  t.target // c.cn + CASE WHEN r.rank_in_class
        |    <= t.target % c.cn THEN 1 ELSE 0 END AS n_copies
        | FROM r JOIN c USING (lang), t)
        |SELECT doc_id, lang, CAST(u.i AS BIGINT) AS copy_id
        |FROM nc, unnest(generate_series(1, n_copies)) u(i)
        |ORDER BY doc_id, copy_id""".stripMargin,
    // cadence regularity: division-free CV^2 ppm on HUGEINT moments
    "rx_cadence" ->
      """WITH g AS (SELECT user_id,
        |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS g
        | FROM events),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(g) AS BIGINT) AS sg,
        |  sum(CAST(g AS HUGEINT) * g) AS sgg,
        |  CAST(min(g) AS BIGINT) AS min_gap_ms,
        |  CAST(max(g) AS BIGINT) AS max_gap_ms
        | FROM g WHERE g IS NOT NULL AND g > 0 GROUP BY user_id)
        |SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_ms,
        |  min_gap_ms, max_gap_ms,
        |  CAST((n_gaps * sgg * 1000000)
        |    // (CAST(sg AS HUGEINT) * sg) - 1000000 AS BIGINT)
        |    AS cv2_ppm
        |FROM m WHERE n_gaps >= 2 ORDER BY user_id""".stripMargin,
    // shingle df spectrum: both engines group by the identical
    // 60-bit md5-prefix hash, so the verdict is exact by construction
    "text_shingle_spectrum" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM tk WHERE len(tk) >= 3),
        |post AS (SELECT doc_id,
        |    ('0x' || substr(md5(s.s), 1, 15))::BIGINT AS h
        |  FROM sh, unnest(sh.sh) AS s(s)),
        |agg AS (SELECT h, CAST(count(*) AS BIGINT) AS tf,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM post GROUP BY h)
        |SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(df) AS BIGINT) AS sum_df,
        |  CAST(sum(tf) AS BIGINT) AS sum_tf
        |FROM agg GROUP BY 1 ORDER BY log2_df""".stripMargin,
    // BFD packing: the identical largest-first best-fit walk with a
    // loads LIST carried through a recursive CTE
    "pack_bfd" ->
      """WITH RECURSIVE d AS (
        |  SELECT source,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1
        |    END AS shard,
        |    doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source,
        |      CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1)
        |           IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1
        |      END
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents),
        |walk AS (
        |  SELECT source, shard, doc_id, n_chars, rn,
        |    CAST(0 AS BIGINT) AS bin_id,
        |    [n_chars] AS loads
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.shard, d.doc_id, d.n_chars, d.rn,
        |    CASE WHEN len(list_filter(w.loads,
        |           l -> l + d.n_chars <= 4096)) = 0
        |      THEN CAST(len(w.loads) AS BIGINT)
        |      ELSE CAST(list_position(w.loads, list_aggregate(
        |        list_filter(w.loads, l -> l + d.n_chars <= 4096),
        |        'max')) - 1 AS BIGINT) END,
        |    CASE WHEN len(list_filter(w.loads,
        |           l -> l + d.n_chars <= 4096)) = 0
        |      THEN list_append(w.loads, d.n_chars)
        |      ELSE list_concat(list_concat(
        |        w.loads[1:list_position(w.loads, list_aggregate(
        |          list_filter(w.loads, l -> l + d.n_chars <= 4096),
        |          'max')) - 1],
        |        [list_aggregate(list_filter(w.loads,
        |           l -> l + d.n_chars <= 4096), 'max') + d.n_chars]),
        |        w.loads[list_position(w.loads, list_aggregate(
        |          list_filter(w.loads, l -> l + d.n_chars <= 4096),
        |          'max')) + 1:]) END
        |  FROM walk w JOIN d
        |    ON d.source = w.source AND d.shard = w.shard
        |   AND d.rn = w.rn + 1)
        |SELECT source, CAST(shard AS INT) AS shard, bin_id,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bin_chars,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM walk GROUP BY source, shard, bin_id
        |ORDER BY source, shard, bin_id""".stripMargin,
    // condensation topological layers: the SCC closure + a depth
    // recursion over the condensation DAG (max depth per component)
    "graph_topo_layers" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS a,
        |    CAST(c_nationkey AS BIGINT) AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey <> c_nationkey),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |mutual AS MATERIALIZED (
        |  SELECT f.a AS node, f.b AS peer
        |  FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a),
        |scc AS MATERIALIZED (
        |  SELECT n.node,
        |    coalesce(least(n.node, min(m.peer)), n.node) AS scc_id
        |  FROM (SELECT CAST(n_nationkey AS BIGINT) AS node
        |        FROM nation) n
        |  LEFT JOIN mutual m ON m.node = n.node GROUP BY n.node),
        |cond AS MATERIALIZED (
        |  SELECT DISTINCT sa.scc_id AS sa, sb.scc_id AS sb
        |  FROM e JOIN scc sa ON sa.node = e.a
        |         JOIN scc sb ON sb.node = e.b
        |  WHERE sa.scc_id <> sb.scc_id),
        |lay(s, dep) AS (
        |  SELECT DISTINCT scc_id, CAST(0 AS BIGINT) FROM scc
        |  UNION
        |  SELECT c.sb, l.dep + 1 FROM lay l JOIN cond c ON l.s = c.sa),
        |layer AS (SELECT s AS scc_id, max(dep) AS layer
        |  FROM lay GROUP BY s)
        |SELECT n_name, node, scc_id, layer
        |FROM scc JOIN layer USING (scc_id)
        |JOIN nation ON node = CAST(n_nationkey AS BIGINT)
        |ORDER BY node""".stripMargin,
    // SCC: transitive closure as a UNION-dedup recursion, mutual
    // reachability min-label
    "graph_scc" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS a,
        |    CAST(c_nationkey AS BIGINT) AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey <> c_nationkey),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |mutual AS (
        |  SELECT f.a AS node, f.b AS peer
        |  FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a),
        |scc AS (
        |  SELECT n.node,
        |    coalesce(least(n.node, min(m.peer)), n.node) AS scc_id
        |  FROM (SELECT CAST(n_nationkey AS BIGINT) AS node
        |        FROM nation) n
        |  LEFT JOIN mutual m ON m.node = n.node GROUP BY n.node),
        |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
        |  FROM scc GROUP BY scc_id)
        |SELECT n_name, node, scc_id, scc_size
        |FROM scc JOIN sz USING (scc_id)
        |JOIN nation ON node = CAST(n_nationkey AS BIGINT)
        |ORDER BY node""".stripMargin,
    // key-level SCC over the thresholded repeat-business trade
    // graph: the oracle proves the engine's FW-BW-trim decomposition
    // by an independent algorithm — full transitive closure +
    // mutual-pair min (feasible because the thresholded arc frame
    // stays small at every tier; the engine never builds reach pairs)
    "graph_scc_keys" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |mutual AS (
        |  SELECT f.a AS node, f.b AS peer
        |  FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a),
        |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |scc AS (
        |  SELECT n.node,
        |    coalesce(least(n.node, min(m.peer)), n.node) AS scc_id
        |  FROM nodes n LEFT JOIN mutual m ON m.node = n.node
        |  GROUP BY n.node),
        |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
        |  FROM scc GROUP BY scc_id)
        |SELECT node, scc_id, scc_size
        |FROM scc JOIN sz USING (scc_id) ORDER BY node""".stripMargin,
    // key-level condensation layers: the scc_keys closure oracle
    // extended with a fixed-sweep longest-path max-relaxation over
    // the condensed arc frame (60 = the engine's asserted depth
    // bound — the sssp parity-bound pattern)
    "graph_topo_layers_keys" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |mutual AS (
        |  SELECT f.a AS node, f.b AS peer
        |  FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a),
        |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |scc AS MATERIALIZED (
        |  SELECT n.node,
        |    coalesce(least(n.node, min(m.peer)), n.node) AS scc_id
        |  FROM nodes n LEFT JOIN mutual m ON m.node = n.node
        |  GROUP BY n.node),
        |cond AS MATERIALIZED (
        |  SELECT DISTINCT s1.scc_id AS sa, s2.scc_id AS sb
        |  FROM e JOIN scc s1 ON s1.node = e.a
        |         JOIN scc s2 ON s2.node = e.b
        |  WHERE s1.scc_id <> s2.scc_id),
        |lay(it, scc_id, layer) AS (
        |  SELECT 0, scc_id, CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT scc_id FROM scc)
        |  UNION ALL
        |  SELECT it + 1, scc_id, max(layer) FROM (
        |    SELECT lay.it AS it, lay.scc_id AS scc_id, lay.layer
        |    FROM lay WHERE lay.it < 60
        |    UNION ALL
        |    SELECT lay.it, c.sb, lay.layer + 1
        |    FROM lay JOIN cond c ON lay.scc_id = c.sa
        |    WHERE lay.it < 60
        |  ) GROUP BY 1, 2)
        |SELECT s.node, s.scc_id, l.layer
        |FROM scc s JOIN lay l ON l.scc_id = s.scc_id AND l.it = 60
        |ORDER BY s.node""".stripMargin,
    // Mann-Whitney U per event type between the md5 A/B arms:
    // doubled average ranks keep tie handling exactly integral
    "rx_mann_whitney" ->
      """WITH v AS (SELECT event_type, value,
        |  CASE WHEN instr('01234567',
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) > 0
        |    THEN 1 ELSE 0 END AS isa
        |  FROM events),
        |g AS (SELECT event_type, value, sum(isa) AS ca,
        |  count(*) AS c FROM v GROUP BY 1, 2),
        |w AS (SELECT event_type, ca, c,
        |  coalesce(sum(c) OVER (PARTITION BY event_type
        |    ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cb
        |  FROM g),
        |agg AS (SELECT event_type,
        |  sum(ca) AS n1, sum(c - ca) AS n2,
        |  sum(ca * (2 * cb + c + 1)) AS r1x2
        |  FROM w GROUP BY 1)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n2 AS BIGINT) AS n2,
        |  CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
        |  CAST((r1x2 - n1 * (n1 + 1) - n1 * n2) * 1000000
        |    // (n1 * n2) AS BIGINT) AS rank_biserial_ppm
        |FROM agg ORDER BY event_type""".stripMargin,
    // two-sample KS per event type: D maxed on cross-multiplied
    // integer ECDF numerators, ppm of n1*n2
    "rx_ks_test" ->
      """WITH v AS (SELECT event_type, value,
        |  CASE WHEN instr('01234567',
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) > 0
        |    THEN 1 ELSE 0 END AS isa
        |  FROM events),
        |g AS (SELECT event_type, value, sum(isa) AS ca,
        |  count(*) AS c FROM v GROUP BY 1, 2),
        |w AS (SELECT event_type, ca, c,
        |  sum(ca) OVER (PARTITION BY event_type ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cuma,
        |  sum(c) OVER (PARTITION BY event_type ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cumc,
        |  sum(ca) OVER (PARTITION BY event_type) AS n1,
        |  sum(c) OVER (PARTITION BY event_type) - sum(ca)
        |    OVER (PARTITION BY event_type) AS n2
        |  FROM g)
        |SELECT event_type, CAST(max(n1) AS BIGINT) AS n1,
        |  CAST(max(n2) AS BIGINT) AS n2,
        |  CAST(max(abs(cuma * n2 - (cumc - cuma) * n1)) * 1000000
        |    // (max(n1) * max(n2)) AS BIGINT) AS d_ppm
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    // L2-norm spread histogram: floor-scaled integral squared
    // norms, one min/max row for both equi-width edges
    "emb_norm_hist" ->
      """WITH s AS (SELECT CAST(floor(list_sum(list_transform(
        |    embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |    * 10000) AS BIGINT) AS nsq FROM embeddings),
        |mm AS (SELECT min(nsq) AS lo, max(nsq) AS hi FROM s)
        |SELECT least(19, (nsq - lo) * 20 // greatest(hi - lo, 1))
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(nsq) AS BIGINT) AS sum_nsq
        |FROM s, mm GROUP BY 1 ORDER BY bucket""".stripMargin,
    // MIPS: the ann_bruteforce contract without the norm — raw
    // index-order dot products, top-k per query
    "ann_mips" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) AS ip
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, ip,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY ip DESC, neighbor_id) AS rank
        | FROM s)
        |SELECT query_id, rank, neighbor_id, ip FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // landmark-sampled harmonic centrality: 8 md5-chosen probes,
    // fixed-sweep multi-source BFS keyed (landmark, node), integral
    // 10^6 div hops summed per reached node
    "graph_harmonic_keys" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e)),
        |lm AS MATERIALIZED (SELECT node AS lm FROM nodes
        |  ORDER BY md5('hl:' || CAST(node AS VARCHAR)), node LIMIT 8),
        |bf(it, lm, node, h) AS (
        |  SELECT 0, lm, lm, CAST(0 AS BIGINT) FROM lm
        |  UNION ALL
        |  SELECT it + 1, lm, node, min(h) FROM (
        |    SELECT bf.it AS it, bf.lm AS lm, bf.node AS node, bf.h
        |    FROM bf WHERE bf.it < 60
        |    UNION ALL
        |    SELECT bf.it, bf.lm, e.b, bf.h + 1
        |    FROM bf JOIN e ON bf.node = e.a WHERE bf.it < 60
        |  ) GROUP BY 1, 2, 3)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_reach,
        |  CAST(sum(1000000 // h) AS BIGINT) AS harmonic_ppm
        |FROM bf WHERE it = 60 AND h >= 1
        |GROUP BY node ORDER BY node""".stripMargin,
    // key-level SSSP over the same thresholded graph: fixed-sweep
    // Bellman-Ford (60 = the engine's convergence bound; the engine
    // throws past it, so a deeper graph fails loud, never unequal)
    "graph_sssp_keys" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b,
        |    greatest(1, 1000000 // n) AS cost FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b,
        |    greatest(1, 1000000 // nr) AS cost FROM p WHERE nr >= 2),
        |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |src AS (
        |  SELECT CAST(c_custkey * 2 AS BIGINT) AS node FROM customer
        |  WHERE c_nationkey = (SELECT n_nationkey FROM nation
        |    ORDER BY n_name, n_nationkey LIMIT 1)
        |    AND CAST(c_custkey * 2 AS BIGINT) IN
        |      (SELECT node FROM nodes)),
        |bf(it, node, d) AS (
        |  SELECT 0, node, CAST(0 AS BIGINT) FROM src
        |  UNION ALL
        |  SELECT it + 1, node, min(d) FROM (
        |    SELECT bf.it AS it, bf.node AS node, bf.d AS d
        |    FROM bf WHERE bf.it < 60
        |    UNION ALL
        |    SELECT bf.it, e.b, bf.d + e.cost
        |    FROM bf JOIN e ON bf.node = e.a WHERE bf.it < 60
        |  ) GROUP BY 1, 2)
        |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END
        |    AS node_type,
        |  node, d AS dist
        |FROM bf WHERE it = 60 ORDER BY node""".stripMargin,
    // key-level PageRank: the nation unrolled-3-iteration oracle on
    // the repeat-business arc frame, uniform out-arc split
    "graph_pagerank_keys" ->
      """WITH p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |nodes AS MATERIALIZED (
        |  SELECT a AS node FROM e UNION SELECT b FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |od AS (SELECT a, count(*) AS od FROM e GROUP BY 1),
        |ed AS MATERIALIZED (
        |  SELECT e.a AS src, e.b AS dst, 1000000 // od.od AS frac_ppm
        |  FROM e JOIN od ON e.a = od.a),
        |r0 AS (SELECT node,
        |  1000000000000 // (SELECT n FROM nn) AS pr FROM nodes),
        |r1 AS (SELECT nd.node,
        |  ((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |   + (coalesce(s.c, 0) * 85) // 100 AS pr
        | FROM nodes nd LEFT JOIN (
        |  SELECT ed.dst AS node,
        |   CAST(sum((r.pr * ed.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM ed JOIN r0 r ON ed.src = r.node GROUP BY 1) s
        |  USING (node)),
        |r2 AS (SELECT nd.node,
        |  ((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |   + (coalesce(s.c, 0) * 85) // 100 AS pr
        | FROM nodes nd LEFT JOIN (
        |  SELECT ed.dst AS node,
        |   CAST(sum((r.pr * ed.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM ed JOIN r1 r ON ed.src = r.node GROUP BY 1) s
        |  USING (node)),
        |r3 AS (SELECT nd.node,
        |  ((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |   + (coalesce(s.c, 0) * 85) // 100 AS pr
        | FROM nodes nd LEFT JOIN (
        |  SELECT ed.dst AS node,
        |   CAST(sum((r.pr * ed.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM ed JOIN r2 r ON ed.src = r.node GROUP BY 1) s
        |  USING (node))
        |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END
        |    AS node_type,
        |  node, pr AS pr_scaled
        |FROM r3 ORDER BY node""".stripMargin,
    // key-level reciprocity: reverse-arc EXISTS over the same frame
    "graph_reciprocity_keys" ->
      """WITH p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |r AS (SELECT e1.a, count(*) AS n_recip FROM e e1
        |  WHERE EXISTS (SELECT 1 FROM e e2
        |    WHERE e2.a = e1.b AND e2.b = e1.a)
        |  GROUP BY 1)
        |SELECT CASE WHEN o.a % 2 = 0 THEN 'cust' ELSE 'supp' END
        |    AS node_type,
        |  o.a AS node, o.n_out,
        |  coalesce(r.n_recip, 0) AS n_recip,
        |  coalesce(r.n_recip, 0) * 1000000 // o.n_out AS recip_ppm
        |FROM (SELECT a, count(*) AS n_out FROM e GROUP BY 1) o
        |LEFT JOIN r ON o.a = r.a
        |ORDER BY node""".stripMargin,
    // capped co-sourcing projection triangles: the engine's
    // orientation changes only intermediates — the oracle counts
    // corners off the plain id-ordered 3-way join
    "graph_triangles_keys" ->
      """WITH bp AS MATERIALIZED (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(l_suppkey AS BIGINT) AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS MATERIALIZED (
        |  SELECT cust, supp FROM (
        |    SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |      ORDER BY md5('tri:' || CAST(supp AS VARCHAR) || ':'
        |        || CAST(cust AS VARCHAR)), cust) AS rn
        |    FROM bp) WHERE rn <= 64),
        |ue AS MATERIALIZED (
        |  SELECT x.cust AS u, y.cust AS v
        |  FROM capped x JOIN capped y
        |    ON x.supp = y.supp AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS MATERIALIZED (
        |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |  FROM ue e1 JOIN ue e2 ON e1.v = e2.u
        |  JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (
        |  SELECT node, count(*) AS n_tri FROM (
        |    SELECT n1 AS node FROM tri
        |    UNION ALL SELECT n2 FROM tri
        |    UNION ALL SELECT n3 FROM tri) GROUP BY 1),
        |nodes AS (SELECT u AS node FROM ue UNION SELECT v FROM ue)
        |SELECT n.node AS cust, coalesce(c.n_tri, 0) AS n_tri
        |FROM nodes n LEFT JOIN corners c USING (node)
        |ORDER BY cust""".stripMargin,
    "graph_clustering_keys" ->
      """WITH bp AS MATERIALIZED (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(l_suppkey AS BIGINT) AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS MATERIALIZED (
        |  SELECT cust, supp FROM (
        |    SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |      ORDER BY md5('tri:' || CAST(supp AS VARCHAR) || ':'
        |        || CAST(cust AS VARCHAR)), cust) AS rn
        |    FROM bp) WHERE rn <= 64),
        |ue AS MATERIALIZED (
        |  SELECT x.cust AS u, y.cust AS v
        |  FROM capped x JOIN capped y
        |    ON x.supp = y.supp AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS MATERIALIZED (
        |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |  FROM ue e1 JOIN ue e2 ON e1.v = e2.u
        |  JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (
        |  SELECT node, count(*) AS n_tri FROM (
        |    SELECT n1 AS node FROM tri
        |    UNION ALL SELECT n2 FROM tri
        |    UNION ALL SELECT n3 FROM tri) GROUP BY 1),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM ue UNION ALL SELECT v FROM ue)
        |  GROUP BY 1)
        |SELECT d.node AS cust, d.deg,
        |  coalesce(c.n_tri, 0) AS n_tri,
        |  CASE WHEN d.deg >= 2 THEN coalesce(c.n_tri, 0) * 2000000
        |    // (d.deg * (d.deg - 1)) END AS cc_ppm
        |FROM deg d LEFT JOIN corners c USING (node)
        |ORDER BY cust""".stripMargin,
    // k-truss peel trace: 3 unrolled support-count/filter rounds
    // over the same capped projection; the engine's compact-forward
    // orientation changes only intermediates — the oracle counts
    // edge support off the plain id-ordered 3-way join
    "graph_k_truss" ->
      """WITH bp AS MATERIALIZED (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(l_suppkey AS BIGINT) AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS MATERIALIZED (
        |  SELECT cust, supp FROM (
        |    SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |      ORDER BY md5('tri:' || CAST(supp AS VARCHAR) || ':'
        |        || CAST(cust AS VARCHAR)), cust) AS rn
        |    FROM bp) WHERE rn <= 64),
        |ue0 AS MATERIALIZED (
        |  SELECT x.cust AS u, y.cust AS v
        |  FROM capped x JOIN capped y
        |    ON x.supp = y.supp AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |t1 AS MATERIALIZED (
        |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |  FROM ue0 e1 JOIN ue0 e2 ON e1.v = e2.u
        |  JOIN ue0 e3 ON e3.u = e1.u AND e3.v = e2.v),
        |s1 AS MATERIALIZED (
        |  SELECT u, v, count(*) AS sup FROM (
        |    SELECT n1 AS u, n2 AS v FROM t1
        |    UNION ALL SELECT n1, n3 FROM t1
        |    UNION ALL SELECT n2, n3 FROM t1) GROUP BY 1, 2),
        |ue1 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM ue0 e
        |  JOIN s1 ON s1.u = e.u AND s1.v = e.v AND s1.sup >= 2),
        |t2 AS MATERIALIZED (
        |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |  FROM ue1 e1 JOIN ue1 e2 ON e1.v = e2.u
        |  JOIN ue1 e3 ON e3.u = e1.u AND e3.v = e2.v),
        |s2 AS MATERIALIZED (
        |  SELECT u, v, count(*) AS sup FROM (
        |    SELECT n1 AS u, n2 AS v FROM t2
        |    UNION ALL SELECT n1, n3 FROM t2
        |    UNION ALL SELECT n2, n3 FROM t2) GROUP BY 1, 2),
        |ue2 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM ue1 e
        |  JOIN s2 ON s2.u = e.u AND s2.v = e.v AND s2.sup >= 2),
        |t3 AS MATERIALIZED (
        |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |  FROM ue2 e1 JOIN ue2 e2 ON e1.v = e2.u
        |  JOIN ue2 e3 ON e3.u = e1.u AND e3.v = e2.v),
        |s3 AS MATERIALIZED (
        |  SELECT u, v, count(*) AS sup FROM (
        |    SELECT n1 AS u, n2 AS v FROM t3
        |    UNION ALL SELECT n1, n3 FROM t3
        |    UNION ALL SELECT n2, n3 FROM t3) GROUP BY 1, 2),
        |ue3 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM ue2 e
        |  JOIN s3 ON s3.u = e.u AND s3.v = e.v AND s3.sup >= 2)
        |SELECT CAST(1 AS BIGINT) AS round,
        |  (SELECT count(*) FROM ue1) AS n_edges,
        |  (SELECT count(DISTINCT nd) FROM (SELECT u AS nd FROM ue1
        |    UNION ALL SELECT v FROM ue1)) AS n_customers,
        |  CAST((SELECT coalesce(sum(sup), 0) // 3 FROM s1)
        |    AS BIGINT) AS n_triangles
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |  (SELECT count(*) FROM ue2),
        |  (SELECT count(DISTINCT nd) FROM (SELECT u AS nd FROM ue2
        |    UNION ALL SELECT v FROM ue2)),
        |  CAST((SELECT coalesce(sum(sup), 0) // 3 FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT),
        |  (SELECT count(*) FROM ue3),
        |  (SELECT count(DISTINCT nd) FROM (SELECT u AS nd FROM ue3
        |    UNION ALL SELECT v FROM ue3)),
        |  CAST((SELECT coalesce(sum(sup), 0) // 3 FROM s3) AS BIGINT)
        |ORDER BY round""".stripMargin,
    // personalized PageRank: seed-only teleport mass, 3 unrolled
    // full-outer rounds over the repeat-business arcs
    "graph_ppr_keys" ->
      """WITH p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |nodes AS MATERIALIZED (
        |  SELECT a AS node FROM e UNION SELECT b FROM e),
        |src AS MATERIALIZED (
        |  SELECT CAST(c_custkey * 2 AS BIGINT) AS node FROM customer
        |  WHERE c_nationkey = (SELECT n_nationkey FROM nation
        |    ORDER BY n_name, n_nationkey LIMIT 1)
        |    AND CAST(c_custkey * 2 AS BIGINT) IN
        |      (SELECT node FROM nodes)),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
        |od AS (SELECT a, count(*) AS od FROM e GROUP BY 1),
        |ed AS MATERIALIZED (
        |  SELECT e.a AS src, e.b AS dst, 1000000 // od.od AS frac_ppm
        |  FROM e JOIN od ON e.a = od.a),
        |sb AS (SELECT node,
        |  ((1000000000000 // (SELECT n FROM ns)) * 15) // 100 AS b
        | FROM src),
        |r0 AS (SELECT node,
        |  1000000000000 // (SELECT n FROM ns) AS pr FROM src),
        |r1 AS (SELECT coalesce(s.node, c.node) AS node,
        |  coalesce(s.b, 0) + (coalesce(c.c, 0) * 85) // 100 AS pr
        | FROM sb s FULL JOIN (
        |  SELECT ed.dst AS node,
        |   CAST(sum((r.pr * ed.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM ed JOIN r0 r ON ed.src = r.node GROUP BY 1) c
        |  ON s.node = c.node),
        |r2 AS (SELECT coalesce(s.node, c.node) AS node,
        |  coalesce(s.b, 0) + (coalesce(c.c, 0) * 85) // 100 AS pr
        | FROM sb s FULL JOIN (
        |  SELECT ed.dst AS node,
        |   CAST(sum((r.pr * ed.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM ed JOIN r1 r ON ed.src = r.node GROUP BY 1) c
        |  ON s.node = c.node),
        |r3 AS (SELECT coalesce(s.node, c.node) AS node,
        |  coalesce(s.b, 0) + (coalesce(c.c, 0) * 85) // 100 AS pr
        | FROM sb s FULL JOIN (
        |  SELECT ed.dst AS node,
        |   CAST(sum((r.pr * ed.frac_ppm) // 1000000) AS BIGINT) AS c
        |  FROM ed JOIN r2 r ON ed.src = r.node GROUP BY 1) c
        |  ON s.node = c.node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END
        |    AS node_type,
        |  node, pr AS ppr_scaled
        |FROM r3 WHERE pr > 0 ORDER BY node""".stripMargin,
    // co-sourcing market segments: min-label with POINTER DOUBLING,
    // 16 unrolled rounds (reach >= 2^16 hops) — the naive recursive
    // closure materializes sum(|component|^2) reach pairs and times
    // out at both sf10 tiers on this projection's giant components;
    // each doubling round is one edge join + one label-chase join +
    // a grouped min, O(edges + nodes) rows, feasible at any tier.
    // Under-convergence cannot pass silently: the min labels would
    // differ from the engine's converged labels and the hash gate
    // fails loud.
    "graph_cosource_components" ->
      ("""WITH bp AS MATERIALIZED (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(l_suppkey AS BIGINT) AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS MATERIALIZED (
        |  SELECT cust, supp FROM (
        |    SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |      ORDER BY md5('tri:' || CAST(supp AS VARCHAR) || ':'
        |        || CAST(cust AS VARCHAR)), cust) AS rn
        |    FROM bp) WHERE rn <= 64),
        |ue AS MATERIALIZED (
        |  SELECT x.cust AS u, y.cust AS v
        |  FROM capped x JOIN capped y
        |    ON x.supp = y.supp AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS MATERIALIZED (
        |  SELECT u AS a, v AS b FROM ue
        |  UNION ALL SELECT v, u FROM ue),
        |l0 AS MATERIALIZED (
        |  SELECT a AS node, a AS lab FROM edges GROUP BY 1, 2),
        |""" +
        (0 until 16).map { k =>
          s"""l${k + 1} AS MATERIALIZED (
             |  SELECT node, min(lab) AS lab FROM (
             |    SELECT node, lab FROM l$k
             |    UNION ALL
             |    SELECT e.b AS node, l.lab FROM edges e
             |      JOIN l$k l ON e.a = l.node
             |    UNION ALL
             |    SELECT x.node, y.lab FROM l$k x
             |      JOIN l$k y ON x.lab = y.node
             |  ) GROUP BY 1)""".stripMargin
        }.mkString(",\n") +
        """,
        |lab AS (SELECT node AS cust, lab AS segment_id FROM l16),
        |sz AS (SELECT segment_id,
        |  CAST(count(*) AS BIGINT) AS segment_size
        | FROM lab GROUP BY 1)
        |SELECT l.cust, l.segment_id, s.segment_size
        |FROM lab l JOIN sz s USING (segment_id)
        |ORDER BY cust""").stripMargin,
    // landmark eccentricity bounds: same 'bw:' pivots + 60-sweep
    // multi-source BFS as the betweenness forward pass; per-node
    // max-over-pivots distance is the standard pivot lower bound
    "graph_eccentricity_keys" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e)),
        |lm AS MATERIALIZED (SELECT node AS lm FROM nodes
        |  ORDER BY md5('bw:' || CAST(node AS VARCHAR)), node LIMIT 8),
        |bf(it, lm, node, h) AS (
        |  SELECT 0, lm, lm, CAST(0 AS BIGINT) FROM lm
        |  UNION ALL
        |  SELECT it + 1, lm, node, min(h) FROM (
        |    SELECT bf.it AS it, bf.lm AS lm, bf.node AS node, bf.h
        |    FROM bf WHERE bf.it < 60
        |    UNION ALL
        |    SELECT bf.it, bf.lm, e.b, bf.h + 1
        |    FROM bf JOIN e ON bf.node = e.a WHERE bf.it < 60
        |  ) GROUP BY 1, 2, 3),
        |dd AS (SELECT lm, node, h FROM bf WHERE it = 60)
        |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END
        |    AS node_type,
        |  node, CAST(max(h) AS BIGINT) AS ecc_lb,
        |  CAST(count(*) AS BIGINT) AS n_lm
        |FROM dd GROUP BY node ORDER BY node""".stripMargin,
    // depth-bounded landmark Brandes: forward sigma by 8 unrolled
    // level-synchronous rounds gated on the converged BFS distances
    // (the distance guard IS the visited set — no anti-join), then
    // 8 unrolled backward dependency rounds, every division an
    // integer floor in a fixed order. HUGEINT sums CAST to BIGINT
    // raise loud on overflow — never silently unequal.
    "graph_betweenness_keys" ->
      ("""WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e)),
        |lm AS MATERIALIZED (SELECT node AS lm FROM nodes
        |  ORDER BY md5('bw:' || CAST(node AS VARCHAR)), node LIMIT 8),
        |bf(it, lm, node, h) AS (
        |  SELECT 0, lm, lm, CAST(0 AS BIGINT) FROM lm
        |  UNION ALL
        |  SELECT it + 1, lm, node, min(h) FROM (
        |    SELECT bf.it AS it, bf.lm AS lm, bf.node AS node, bf.h
        |    FROM bf WHERE bf.it < 60
        |    UNION ALL
        |    SELECT bf.it, bf.lm, e.b, bf.h + 1
        |    FROM bf JOIN e ON bf.node = e.a WHERE bf.it < 60
        |  ) GROUP BY 1, 2, 3),
        |dd AS MATERIALIZED (
        |  SELECT lm, node, h FROM bf WHERE it = 60 AND h <= 8),
        |s0 AS MATERIALIZED (
        |  SELECT lm, lm AS node, CAST(1 AS BIGINT) AS sigma FROM lm),
        |""" +
        (0 until 8).map { k =>
          s"""s${k + 1} AS MATERIALIZED (
             |  SELECT sv.lm, e.b AS node,
             |    CAST(sum(sv.sigma) AS BIGINT) AS sigma
             |  FROM s$k sv JOIN e ON sv.node = e.a
             |  JOIN dd d ON d.lm = sv.lm AND d.node = e.b
             |    AND d.h = ${k + 1}
             |  GROUP BY 1, 2)""".stripMargin
        }.mkString(",\n") +
        """,
        |d8 AS MATERIALIZED (
        |  SELECT lm, node, CAST(0 AS BIGINT) AS del FROM s8),
        |""" +
        (7 to 0 by -1).map { k =>
          s"""d$k AS MATERIALIZED (
             |  SELECT sv.lm, sv.node,
             |    CAST(coalesce(sum((sv.sigma * 1000000 // x.sigma_w)
             |      * (1000000 + x.del) // 1000000), 0) AS BIGINT)
             |      AS del
             |  FROM s$k sv LEFT JOIN (
             |    SELECT sw.lm, e.a AS pred, sw.sigma AS sigma_w,
             |      dn.del
             |    FROM s${k + 1} sw
             |    JOIN d${k + 1} dn
             |      ON dn.lm = sw.lm AND dn.node = sw.node
             |    JOIN e ON e.b = sw.node) x
             |    ON x.lm = sv.lm AND x.pred = sv.node
             |  GROUP BY 1, 2)""".stripMargin
        }.mkString(",\n") +
        """,
        |alld AS (""" +
        (0 to 8).map(k => s"SELECT * FROM d$k")
          .mkString("\n|  UNION ALL ") +
        """),
        |btw AS (SELECT node, CAST(sum(del) AS BIGINT) AS btw_ppm
        |  FROM alld WHERE lm <> node GROUP BY 1)
        |SELECT CASE WHEN n.node % 2 = 0 THEN 'cust' ELSE 'supp' END
        |    AS node_type,
        |  n.node AS node, coalesce(b.btw_ppm, 0) AS btw_ppm
        |FROM nodes n LEFT JOIN btw b ON n.node = b.node
        |ORDER BY node""").stripMargin,
    // hop-distance histogram off the same 'bw:' landmark BFS — the
    // ANF / effective-diameter neighborhood-function estimate
    "graph_hop_histogram" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e)),
        |lm AS MATERIALIZED (SELECT node AS lm FROM nodes
        |  ORDER BY md5('bw:' || CAST(node AS VARCHAR)), node LIMIT 8),
        |bf(it, lm, node, h) AS (
        |  SELECT 0, lm, lm, CAST(0 AS BIGINT) FROM lm
        |  UNION ALL
        |  SELECT it + 1, lm, node, min(h) FROM (
        |    SELECT bf.it AS it, bf.lm AS lm, bf.node AS node, bf.h
        |    FROM bf WHERE bf.it < 60
        |    UNION ALL
        |    SELECT bf.it, bf.lm, e.b, bf.h + 1
        |    FROM bf JOIN e ON bf.node = e.a WHERE bf.it < 60
        |  ) GROUP BY 1, 2, 3),
        |dd AS (SELECT lm, node, h FROM bf WHERE it = 60)
        |SELECT h, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
        |FROM dd GROUP BY h ORDER BY h""".stripMargin,
    // degree-mixing matrix: buckets by binary digit count (exact
    // floor(log2)+1 — no floating log whose power-of-two boundaries
    // drift), per-cell arc counts + raw BIGINT degree sums
    "graph_degree_mixing" ->
      """WITH p AS MATERIALIZED (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT c AS a, s AS b FROM p WHERE n >= 2
        |  UNION ALL
        |  SELECT s AS a, c AS b FROM p WHERE nr >= 2),
        |deg AS MATERIALIZED (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1)
        |SELECT
        |  CAST(length(format('{:b}', da.deg)) AS BIGINT)
        |    AS src_bucket,
        |  CAST(length(format('{:b}', db.deg)) AS BIGINT)
        |    AS dst_bucket,
        |  CAST(count(*) AS BIGINT) AS n_arcs,
        |  CAST(sum(da.deg) AS BIGINT) AS sum_src_deg,
        |  CAST(sum(db.deg) AS BIGINT) AS sum_dst_deg
        |FROM e JOIN deg da ON e.a = da.node
        |JOIN deg db ON e.b = db.node
        |GROUP BY 1, 2 ORDER BY src_bucket, dst_bucket""".stripMargin,
    // temporal degree drift: month-sliced purchase graph, per-month
    // telemetry + L1 distance between consecutive months'
    // bit-length degree histograms (phantom -h rows, no self-join);
    // first month's drift is NULL (no predecessor)
    "graph_degree_drift" ->
      """WITH arcs AS MATERIALIZED (
        |  SELECT DISTINCT
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
        |      AS BIGINT) AS mk,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(l_suppkey AS BIGINT) AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |hist AS MATERIALIZED (
        |  SELECT mk, CAST(length(format('{:b}', deg)) AS BIGINT)
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS h
        |  FROM (SELECT mk, cust, count(*) AS deg FROM arcs
        |        GROUP BY 1, 2)
        |  GROUP BY 1, 2),
        |l1 AS (
        | SELECT mk, CAST(sum(abs(s)) AS BIGINT) AS l1_drift FROM (
        |  SELECT mk, bucket, sum(h) AS s FROM (
        |   SELECT mk, bucket, h FROM hist
        |   UNION ALL SELECT mk + 1, bucket, -h FROM hist)
        |  GROUP BY 1, 2) GROUP BY 1),
        |stats AS (
        | SELECT mk, CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(count(DISTINCT cust) AS BIGINT) AS n_customers,
        |  CAST(count(DISTINCT supp) AS BIGINT) AS n_suppliers
        | FROM arcs GROUP BY 1)
        |SELECT s.mk AS month_key, s.n_edges, s.n_customers,
        | s.n_suppliers,
        | CASE WHEN s.mk = (SELECT min(mk) FROM arcs) THEN NULL
        |  ELSE l.l1_drift END AS l1_drift
        |FROM stats s LEFT JOIN l1 l ON s.mk = l.mk
        |ORDER BY month_key""".stripMargin,
    // canonical survivor per near-dup cluster: most tokens wins,
    // ties to the smallest doc_id — same cluster CTE as dedup_cluster
    "dedup_canonical" ->
      """WITH RECURSIVE
        |sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2])) AS sh
        | FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 3),
        |post AS (SELECT doc_id, source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |pairs AS (
        | SELECT doc1, doc2 FROM (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |  FROM post a JOIN post b
        |   ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) c
        | JOIN sz s1 ON s1.doc_id = c.doc1
        | JOIN sz s2 ON s2.doc_id = c.doc2
        | WHERE CAST(c.n_common AS DOUBLE)
        |   / (s1.n + s2.n - c.n_common) >= 0.2),
        |edges AS (
        | SELECT doc1 AS a, doc2 AS b FROM pairs
        | UNION ALL SELECT doc2, doc1 FROM pairs),
        |reach(node, lab) AS (
        | SELECT DISTINCT a, a FROM edges
        | UNION
        | SELECT e.b, r.lab FROM reach r JOIN edges e ON r.node = e.a),
        |labeled AS (
        | SELECT node AS doc_id, min(lab) AS cluster_id
        | FROM reach GROUP BY node),
        |cl AS (
        | SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        | FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id),
        |tok AS (SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |j AS (SELECT cl.cluster_id, cl.doc_id, t.n_tok
        | FROM cl JOIN tok t USING (doc_id)),
        |agg AS (SELECT cluster_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  max(n_tok) AS canon_tokens
        | FROM j GROUP BY 1)
        |SELECT a.cluster_id, a.n_members, a.canon_tokens,
        | min(j.doc_id) AS canonical_doc,
        | a.n_members - 1 AS n_dropped
        |FROM agg a JOIN j ON j.cluster_id = a.cluster_id
        | AND j.n_tok = a.canon_tokens
        |GROUP BY 1, 2, 3 ORDER BY a.cluster_id""".stripMargin,
    // 2-D equi-width histogram: both edges from one min/max row,
    // exact-cents cell revenue
    "q_equiwidth_2d" ->
      """WITH s AS (SELECT min(l_quantity) AS qlo,
        |  max(l_quantity) AS qhi, min(l_extendedprice) AS plo,
        |  max(l_extendedprice) AS phi FROM lineitem)
        |SELECT least(9, CAST(floor((l_quantity - qlo) * 10
        |    / (qhi - qlo)) AS BIGINT)) AS q_bucket,
        |  least(9, CAST(floor((l_extendedprice - plo) * 10
        |    / (phi - plo)) AS BIGINT)) AS p_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |    AS BIGINT) AS cents
        |FROM lineitem, s GROUP BY 1, 2
        |ORDER BY q_bucket, p_bucket""".stripMargin,
    // pairwise-cosine geometry histogram over two independent
    // md5-deterministic samples; the ann_bruteforce cosine form
    "emb_cos_hist" ->
      """WITH sa AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE ('0x' || substr(md5('ca:' || CAST(vec_id AS VARCHAR)),
        |    1, 15))::BIGINT % 64 = 0),
        |sb AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE ('0x' || substr(md5('cb:' || CAST(vec_id AS VARCHAR)),
        |    1, 15))::BIGINT % 64 = 0),
        |p AS (SELECT
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(a.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |    * list_sum(list_transform(b.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        | FROM sa a JOIN sb b ON a.vec_id < b.vec_id)
        |SELECT least(19, CAST(floor((cos + 1.0) * 20 / 2.0)
        |    AS BIGINT)) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CAST(floor(cos * 1e6) AS BIGINT)) AS BIGINT)
        |    AS sum_cos_ppm
        |FROM p GROUP BY 1 ORDER BY bucket""".stripMargin,
    // bloom admission audit: every bit position re-derived from md5
    // alone; false positives = bloom-hit minus exact-dup
    "dedup_bloom_admit" ->
      """WITH h AS (SELECT doc_id, source,
        |  md5(lower(trim(text))) AS content_hash FROM documents),
        |corpus AS MATERIALIZED (SELECT * FROM h WHERE source NOT IN
        |  ('src16', 'src17', 'src18', 'src19')),
        |batch AS (SELECT * FROM h WHERE source IN
        |  ('src16', 'src17', 'src18', 'src19')),
        |cpos AS (SELECT DISTINCT
        |  ('0x' || substr(md5('bloom' || j.j || ':' || content_hash),
        |    1, 15))::BIGINT % 1048576 AS pos
        | FROM corpus, range(0, 3) j(j)),
        |bpos AS (SELECT doc_id, source, content_hash,
        |  ('0x' || substr(md5('bloom' || j.j || ':' || content_hash),
        |    1, 15))::BIGINT % 1048576 AS pos
        | FROM batch, range(0, 3) j(j)),
        |perdoc AS (SELECT doc_id, source, content_hash,
        |  count(*) = sum(CASE WHEN c.hit IS NOT NULL THEN 1 ELSE 0 END)
        |    AS bloom_hit
        | FROM bpos LEFT JOIN
        |   (SELECT pos, 1 AS hit FROM cpos) c USING (pos)
        | GROUP BY 1, 2, 3),
        |ex AS (SELECT DISTINCT content_hash, 1 AS is_dup FROM corpus)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_batch,
        |  CAST(coalesce(sum(CASE WHEN bloom_hit THEN 1 END), 0)
        |    AS BIGINT) AS n_bloom_hit,
        |  CAST(coalesce(sum(CASE WHEN is_dup = 1 THEN 1 END), 0)
        |    AS BIGINT) AS n_exact_dup,
        |  CAST(coalesce(sum(CASE WHEN bloom_hit AND is_dup IS NULL
        |    THEN 1 END), 0) AS BIGINT) AS n_false_pos
        |FROM perdoc LEFT JOIN ex USING (content_hash)
        |GROUP BY source ORDER BY source""".stripMargin,
    // incremental top-k maintenance: the engine merges stored base
    // top-k with the delta's top-k; the oracle recomputes from
    // scratch — the gate IS the mergeable-summary identity
    "q_incremental_topk" ->
      """SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank,
        | o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rank
        | FROM orders) WHERE rank <= 3
        |ORDER BY o_orderpriority, rank""".stripMargin,
    // matryoshka prefix-dim audit: both rank windows re-derived with
    // the same index-order cosine sums; list_slice = Spark slice
    "emb_matryoshka" -> {
      def cos(a: String, b: String) =
        s"""(list_sum(list_transform(list_zip($a, $b),
           |  s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
           | / sqrt(list_sum(list_transform($a,
           |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
           |   * list_sum(list_transform($b,
           |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
          .stripMargin
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id < 20),
         |fr AS (
         | SELECT q.query_id, e.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY q.query_id
         |   ORDER BY ${cos("q.q_emb", "e.embedding")} DESC, e.vec_id)
         |   AS rank
         | FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |pr AS (
         | SELECT q.query_id, e.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY q.query_id
         |   ORDER BY ${cos("list_slice(q.q_emb, 1, 32)",
                            "list_slice(e.embedding, 1, 32)")} DESC,
         |   e.vec_id) AS p_rank
         | FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |f AS (SELECT query_id, neighbor_id, rank FROM fr
         |  WHERE rank <= 10),
         |p AS (SELECT query_id, neighbor_id, p_rank FROM pr
         |  WHERE p_rank <= 10),
         |g AS (
         | SELECT f.query_id, CAST(count(*) AS BIGINT) AS k_full,
         |  CAST(coalesce(sum(CASE WHEN p.p_rank IS NOT NULL THEN 1
         |    END), 0) AS BIGINT) AS n_overlap,
         |  CAST(coalesce(max(CASE WHEN f.rank = 1 AND p.p_rank = 1
         |    THEN 1 END), 0) AS BIGINT) AS top1_match
         | FROM f LEFT JOIN p ON p.query_id = f.query_id
         |   AND p.neighbor_id = f.neighbor_id
         | GROUP BY f.query_id)
         |SELECT query_id, k_full, n_overlap,
         | CAST(n_overlap * 1000000 // k_full AS BIGINT) AS recall_ppm,
         | top1_match
         |FROM g ORDER BY query_id""".stripMargin
    },
    // Gopher structural rules: all-integer milli/ppm thresholds
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ')
        |   AS toks FROM documents),
        |v AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(1000 * list_sum(list_transform(toks,
        |    t -> length(t))) // len(toks) AS BIGINT)
        |    AS mean_wlen_milli,
        |  CAST(len(list_filter(toks,
        |    t -> regexp_full_match(t, '[a-z]+'))) * 1000000
        |    // len(toks) AS BIGINT) AS alpha_ppm,
        |  CAST(len(list_intersect(list_distinct(toks),
        |    ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it']))
        |    AS BIGINT) AS n_stop
        | FROM t WHERE len(toks) > 0)
        |SELECT doc_id, n_words, mean_wlen_milli, alpha_ppm, n_stop,
        | CAST((CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0
        |    END)
        |  + (CASE WHEN mean_wlen_milli BETWEEN 3000 AND 10000 THEN 1
        |    ELSE 0 END)
        |  + (CASE WHEN alpha_ppm >= 800000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS rules_passed,
        | CAST(CASE WHEN
        |   (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN mean_wlen_milli BETWEEN 3000 AND 10000 THEN 1
        |    ELSE 0 END)
        |  + (CASE WHEN alpha_ppm >= 800000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) = 4
        |   THEN 1 ELSE 0 END AS BIGINT) AS admit
        |FROM v ORDER BY doc_id""".stripMargin,
    // span-dedup removal telemetry: the 49f spans CTE + per-source
    // LEFT-join rollup (zero-span docs count as fully gone)
    "dedup_span_stats" ->
      """WITH tk AS (
        | SELECT doc_id, source, string_split(lower(text), ' ') AS t
        | FROM documents),
        |base AS (SELECT doc_id, source, len(t) AS n, t FROM tk),
        |sh AS (
        | SELECT doc_id, n, list_transform(
        |   generate_series(1, len(t) - 7),
        |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |     || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
        |     || t[i+7]) AS wins
        | FROM base WHERE len(t) >= 8),
        |post AS (
        | SELECT doc_id, n, u.i AS pos,
        |  ('0x' || substr(md5(wins[u.i]), 1, 15))::BIGINT AS h
        | FROM sh, unnest(generate_series(1, len(wins))) u(i)),
        |rem AS (
        | SELECT doc_id, n, pos FROM (
        |  SELECT doc_id, n, pos,
        |   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM post) WHERE rn >= 2),
        |isl AS (
        | SELECT doc_id, n, pos,
        |  sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
        | FROM (SELECT doc_id, n, pos,
        |   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM rem)),
        |mg AS (
        | SELECT doc_id, n, island, min(pos) AS s, max(pos) + 7 AS e
        | FROM isl GROUP BY doc_id, n, island),
        |bef AS (
        | SELECT doc_id,
        |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
        |    AS tok_start,
        |  s - 1 AS tok_end
        | FROM mg),
        |aft AS (
        | SELECT doc_id, max(e) + 1 AS tok_start, n AS tok_end
        | FROM mg GROUP BY doc_id, n),
        |whole AS (
        | SELECT b.doc_id, 1 AS tok_start, b.n AS tok_end
        | FROM base b LEFT JOIN (SELECT DISTINCT doc_id FROM mg) m
        |   USING (doc_id)
        | WHERE m.doc_id IS NULL),
        |spans AS (SELECT * FROM bef UNION ALL SELECT * FROM aft
        |  UNION ALL SELECT * FROM whole),
        |perdoc AS (
        | SELECT doc_id, sum(tok_end - tok_start + 1) AS retained
        | FROM spans WHERE tok_start <= tok_end GROUP BY doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(CASE WHEN coalesce(retained, 0) < n THEN 1
        |   END), 0) AS BIGINT) AS n_docs_cut,
        | CAST(coalesce(sum(CASE WHEN coalesce(retained, 0) = 0 THEN 1
        |   END), 0) AS BIGINT) AS n_docs_gone,
        | CAST(sum(n) AS BIGINT) AS total_toks,
        | CAST(coalesce(sum(coalesce(retained, 0)), 0) AS BIGINT)
        |   AS retained_toks,
        | CAST(coalesce(sum(coalesce(retained, 0)), 0) * 1000000
        |   // sum(n) AS BIGINT) AS retained_ppm
        |FROM base LEFT JOIN perdoc USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    // dense source x lang token matrix; the explicit lang domain is
    // the generator's contract (and keeps the engine pivot one
    // groupBy, no distinct-values pre-job)
    "text_lang_matrix" ->
      """WITH t AS (SELECT source, lang,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        | FROM documents)
        |SELECT source,
        | CAST(coalesce(sum(CASE WHEN lang = 'de' THEN n_tok END), 0)
        |   AS BIGINT) AS toks_de,
        | CAST(coalesce(sum(CASE WHEN lang = 'en' THEN n_tok END), 0)
        |   AS BIGINT) AS toks_en,
        | CAST(coalesce(sum(CASE WHEN lang = 'es' THEN n_tok END), 0)
        |   AS BIGINT) AS toks_es,
        | CAST(coalesce(sum(CASE WHEN lang = 'fr' THEN n_tok END), 0)
        |   AS BIGINT) AS toks_fr,
        | CAST(coalesce(sum(CASE WHEN lang = 'zh' THEN n_tok END), 0)
        |   AS BIGINT) AS toks_zh,
        | CAST(sum(n_tok) AS BIGINT) AS toks_total
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // content-defined chunking: the greedy min-size cut fold is the
    // ewma recursive-CTE pattern over per-doc candidate ranks; the
    // boundary hash is the auditable md5 family
    "dedup_cdc_chunks" ->
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id, source, text, length(text) AS n FROM documents),
        |cand AS (
        |  SELECT doc_id, list_sort(list_filter(
        |    list_transform(range(8, n + 1),
        |      i -> CASE WHEN ('0x' || substr(md5(substr(text, i - 7, 8)),
        |          1, 7))::BIGINT % 32 = 0 THEN i ELSE -1 END),
        |    x -> x > 0)) AS cs
        |  FROM d),
        |c2 AS MATERIALIZED (SELECT doc_id, u.i AS pos,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY u.i) AS rn
        |  FROM cand, unnest(cs) u(i)),
        |r AS (
        |  SELECT doc_id, 0 AS rn, [0] AS cuts FROM d
        |  UNION ALL
        |  SELECT c2.doc_id, c2.rn,
        |    CASE WHEN c2.pos - r.cuts[len(r.cuts)] >= 16
        |         THEN list_append(r.cuts, c2.pos) ELSE r.cuts END
        |  FROM r JOIN c2 ON c2.doc_id = r.doc_id AND c2.rn = r.rn + 1),
        |fin AS (SELECT doc_id, cuts FROM (
        |  SELECT doc_id, cuts, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY rn DESC) AS k FROM r) WHERE k = 1),
        |b AS MATERIALIZED (SELECT d.doc_id, d.source, d.text,
        |  CASE WHEN cuts[len(cuts)] = length(text) THEN cuts
        |       ELSE list_append(cuts, length(text)) END AS bs
        | FROM fin JOIN d USING (doc_id)),
        |ch AS (SELECT doc_id, source,
        |   substr(text, bs[j.j] + 1, bs[j.j + 1] - bs[j.j]) AS chunk
        | FROM b, unnest(range(1, len(bs))) j(j)),
        |h AS MATERIALIZED (SELECT doc_id, source, length(chunk) AS clen,
        |   ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS ch FROM ch),
        |g AS (SELECT ch, count(*) AS cnt FROM h GROUP BY 1)
        |SELECT source,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(clen) AS BIGINT) AS n_chunk_chars,
        | CAST(count(DISTINCT h.ch) AS BIGINT) AS n_distinct,
        | CAST(coalesce(sum(CASE WHEN cnt > 1 THEN 1 END), 0) AS BIGINT)
        |   AS n_shared,
        | CAST(coalesce(sum(CASE WHEN cnt > 1 THEN 1 END), 0)
        |   * 1000000 // count(*) AS BIGINT) AS dup_ppm
        |FROM h JOIN g ON g.ch = h.ch
        |GROUP BY source ORDER BY source""".stripMargin,
    // gear rolling-hash CDC: the per-character 2^62 modular update
    // re-derived as a char-at-a-time recursive CTE against the
    // md5-derived gear table; chunk identity = md5 of the chunk
    "dedup_cdc_gear" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, source, text, length(text) AS n FROM documents),
        |gear AS (SELECT g.g AS g,
        |  ('0x' || substr(md5('gear:' || CAST(g.g AS VARCHAR)), 1, 15))
        |    ::BIGINT AS gv
        | FROM range(0, 256) g(g)),
        |st AS (
        |  SELECT doc_id, 0 AS i, CAST(0 AS BIGINT) AS h,
        |    0 AS last_cut, [0] AS cuts
        |  FROM d
        |  UNION ALL
        |  SELECT st.doc_id, st.i + 1,
        |    CAST((CAST(st.h AS HUGEINT) * 2 + g.gv)
        |      % 4611686018427387904 AS BIGINT),
        |    CASE WHEN (CAST((CAST(st.h AS HUGEINT) * 2 + g.gv)
        |        % 4611686018427387904 AS BIGINT) & 31) = 0
        |          AND st.i + 1 - st.last_cut >= 16
        |         THEN st.i + 1 ELSE st.last_cut END,
        |    CASE WHEN (CAST((CAST(st.h AS HUGEINT) * 2 + g.gv)
        |        % 4611686018427387904 AS BIGINT) & 31) = 0
        |          AND st.i + 1 - st.last_cut >= 16
        |         THEN list_append(st.cuts, st.i + 1) ELSE st.cuts END
        |  FROM st
        |  JOIN d ON d.doc_id = st.doc_id AND st.i < d.n
        |  JOIN gear g ON g.g = ascii(substr(d.text, st.i + 1, 1)) % 256),
        |fin AS (SELECT doc_id, cuts FROM (
        |  SELECT doc_id, cuts, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY i DESC) AS k FROM st) WHERE k = 1),
        |b AS (SELECT d.doc_id, d.source, d.text,
        |  CASE WHEN cuts[len(cuts)] = d.n THEN cuts
        |       ELSE list_append(cuts, d.n) END AS bs
        | FROM fin JOIN d USING (doc_id)),
        |ch AS (SELECT doc_id, source,
        |   substr(text, bs[j.j] + 1, bs[j.j + 1] - bs[j.j]) AS chunk
        | FROM b, unnest(range(1, len(bs))) j(j)),
        |h AS (SELECT doc_id, source, length(chunk) AS clen,
        |   ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS ch FROM ch),
        |g AS (SELECT ch, count(*) AS cnt FROM h GROUP BY 1)
        |SELECT source,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(clen) AS BIGINT) AS n_chunk_chars,
        | CAST(count(DISTINCT h.ch) AS BIGINT) AS n_distinct,
        | CAST(coalesce(sum(CASE WHEN cnt > 1 THEN 1 END), 0) AS BIGINT)
        |   AS n_shared,
        | CAST(coalesce(sum(CASE WHEN cnt > 1 THEN 1 END), 0)
        |   * 1000000 // count(*) AS BIGINT) AS dup_ppm
        |FROM h JOIN g ON g.ch = h.ch
        |GROUP BY source ORDER BY source""".stripMargin,
    // gear cuts (the production path the composite rides) split into
    // wave (odd ids) vs corpus (even ids); novelty = left-join miss
    // on the corpus's distinct chunk hashes
    "dedup_cdc_incremental" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, source, text, length(text) AS n FROM documents),
        |gear AS (SELECT g.g AS g,
        |  ('0x' || substr(md5('gear:' || CAST(g.g AS VARCHAR)), 1, 15))
        |    ::BIGINT AS gv
        | FROM range(0, 256) g(g)),
        |st AS (
        |  SELECT doc_id, 0 AS i, CAST(0 AS BIGINT) AS h,
        |    0 AS last_cut, [0] AS cuts
        |  FROM d
        |  UNION ALL
        |  SELECT st.doc_id, st.i + 1,
        |    CAST((CAST(st.h AS HUGEINT) * 2 + g.gv)
        |      % 4611686018427387904 AS BIGINT),
        |    CASE WHEN (CAST((CAST(st.h AS HUGEINT) * 2 + g.gv)
        |        % 4611686018427387904 AS BIGINT) & 31) = 0
        |          AND st.i + 1 - st.last_cut >= 16
        |         THEN st.i + 1 ELSE st.last_cut END,
        |    CASE WHEN (CAST((CAST(st.h AS HUGEINT) * 2 + g.gv)
        |        % 4611686018427387904 AS BIGINT) & 31) = 0
        |          AND st.i + 1 - st.last_cut >= 16
        |         THEN list_append(st.cuts, st.i + 1) ELSE st.cuts END
        |  FROM st
        |  JOIN d ON d.doc_id = st.doc_id AND st.i < d.n
        |  JOIN gear g ON g.g = ascii(substr(d.text, st.i + 1, 1)) % 256),
        |fin AS (SELECT doc_id, cuts FROM (
        |  SELECT doc_id, cuts, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY i DESC) AS k FROM st) WHERE k = 1),
        |b AS (SELECT d.doc_id, d.source, d.text,
        |  CASE WHEN cuts[len(cuts)] = length(text) THEN cuts
        |       ELSE list_append(cuts, length(text)) END AS bs
        | FROM fin JOIN d USING (doc_id)),
        |h AS (SELECT doc_id, source,
        |   ('0x' || substr(md5(substr(text, bs[j.j] + 1,
        |     bs[j.j + 1] - bs[j.j])), 1, 15))::BIGINT AS ch
        | FROM b, unnest(range(1, len(bs))) j(j)),
        |corpus AS (SELECT DISTINCT ch FROM h WHERE doc_id % 2 = 0),
        |wave AS (SELECT h.doc_id, h.source, h.ch,
        |   CASE WHEN c.ch IS NULL THEN 1 ELSE 0 END AS novel
        | FROM h LEFT JOIN corpus c ON c.ch = h.ch
        | WHERE h.doc_id % 2 = 1)
        |SELECT source,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(coalesce(sum(novel), 0) AS BIGINT) AS n_novel,
        | CAST(coalesce(sum(novel), 0) * 1000000 // count(*) AS BIGINT)
        |   AS novel_ppm
        |FROM wave GROUP BY source ORDER BY source""".stripMargin,
    "dedup_paragraph" ->
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |c AS (
        | SELECT doc_id, md5(lower(array_to_string(
        |   list_slice(toks, chunk_id*50 + 1, chunk_id*50 + 50), ' ')))
        |   AS chunk_hash
        | FROM t, unnest(generate_series(0, greatest(0,
        |   CAST(ceil((len(toks) - 50) / 50.0) AS BIGINT))))
        |   AS g(chunk_id)),
        |d AS (SELECT DISTINCT doc_id, chunk_hash FROM c)
        |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM d GROUP BY chunk_hash HAVING count(*) >= 2
        |ORDER BY chunk_hash""".stripMargin,
    "rx_ignore_elements" ->
      """SELECT user_id, 'completed' AS signal,
        | CAST(count(*) AS BIGINT) AS n_ignored
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_ewma" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, "value",
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS rn
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, "value", rn, "value" AS ewma
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e."value", e.rn,
        |    0.25 * e."value" + 0.75 * w.ewma
        |  FROM w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, event_id, "value", ewma FROM w
        |ORDER BY user_id, event_id""".stripMargin,
    // the rx_ewma recursive-CTE contract extended to the 2-term
    // (level, trend) state; alpha = beta = 1/4 are exact binary
    // doubles and both engines evaluate the identical op sequence
    "rx_holt" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, "value",
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS rn
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, "value", rn,
        |    "value" AS level, CAST(0 AS DOUBLE) AS trend
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e."value", e.rn,
        |    0.25 * e."value" + 0.75 * (w.level + w.trend),
        |    0.25 * ((0.25 * e."value" + 0.75 * (w.level + w.trend))
        |      - w.level) + 0.75 * w.trend
        |  FROM w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, event_id, "value", level, trend,
        |  level + trend AS forecast
        |FROM w ORDER BY user_id, event_id""".stripMargin,
    "rx_runs_test" ->
      """WITH med AS (
        |  SELECT user_id, "value" AS med FROM (
        |    SELECT user_id, "value",
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY "value", event_id) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS cnt
        |    FROM events)
        |  WHERE rn = (cnt + 1) // 2),
        |signs AS (
        |  SELECT e.user_id,
        |    CASE WHEN e."value" > m.med THEN 1 ELSE 0 END AS above,
        |    lag(CASE WHEN e."value" > m.med THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY e.user_id ORDER BY e.event_id) AS prev
        |  FROM events e JOIN med m USING (user_id)
        |  WHERE e."value" <> m.med),
        |agg AS (
        |  SELECT user_id,
        |    CAST(sum(above) AS BIGINT) AS n1,
        |    CAST(sum(1 - above) AS BIGINT) AS n2,
        |    CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
        |      AND prev <> above THEN 1 END), 0) + 1 AS BIGINT) AS runs
        |  FROM signs GROUP BY user_id)
        |SELECT m.user_id,
        |  coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
        |  coalesce(runs, 0) AS runs,
        |  CASE WHEN coalesce(n1, 0) + coalesce(n2, 0) > 0 THEN
        |    1000000 + 2000000 * n1 * n2 // (n1 + n2) END
        |    AS expected_runs_ppm
        |FROM med m LEFT JOIN agg a ON a.user_id = m.user_id
        |ORDER BY m.user_id""".stripMargin,
    // Markov entropy rate via the exact bit-length log2 identity
    // (the token-entropy contract on transition counts)
    "rx_entropy_rate" ->
      """WITH p AS (
        |  SELECT user_id, "from", event_type AS "to",
        |    count(*) AS c_st FROM (
        |    SELECT user_id, event_id, event_type,
        |      lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY event_id) AS "from"
        |    FROM events)
        |  WHERE "from" IS NOT NULL GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT user_id, c_st,
        |    sum(c_st) OVER (PARTITION BY user_id, "from") AS c_s
        |  FROM p)
        |SELECT user_id,
        |  CAST(sum(c_st) AS BIGINT) AS n_transitions,
        |  CAST(sum(c_st * ((length(bin(c_s)) - 1)
        |    - (length(bin(c_st)) - 1))) * 1000 // sum(c_st) AS BIGINT)
        |    AS entropy_rate_milli
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the rx_outliers exact decision rule on a rolling ROWS frame:
    // (n·x − Σ)² > 4(nΣx² − Σ²) over BIGINT cents as DECIMAL(38,0)
    "rx_bollinger" ->
      """WITH x AS (
        |  SELECT user_id, event_id,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS HUGEINT) AS xi
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, xi,
        |    count(*) OVER w AS n,
        |    sum(xi) OVER w AS sx,
        |    sum(xi * xi) OVER w AS sxx
        |  FROM x
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, CAST(xi AS BIGINT) AS cents,
        |  CAST(n AS BIGINT) AS n_window,
        |  CASE WHEN (n * xi - sx) * (n * xi - sx)
        |         > (n * sxx - sx * sx) * 4
        |       THEN CASE WHEN n * xi > sx THEN 'above' ELSE 'below' END
        |       ELSE 'in' END AS band
        |FROM m ORDER BY user_id, event_id""".stripMargin,
    // S over the same capped last-32 window; tie-corrected 18*Var
    // numerator from a (user, value) count rollup — all integers
    "rx_mann_kendall" ->
      """WITH lastn AS (
        |  SELECT user_id, event_id, "value" FROM (
        |    SELECT user_id, event_id, "value",
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn <= 32),
        |p AS (
        |  SELECT user_id, list("value" ORDER BY event_id) AS vals
        |  FROM lastn GROUP BY user_id),
        |s AS (
        |  SELECT user_id, len(vals) AS n_points,
        |    CASE WHEN len(vals) < 2 THEN 0
        |    ELSE list_sum(flatten(list_transform(range(2, len(vals) + 1),
        |      j -> list_transform(range(1, j), i ->
        |        CASE WHEN vals[j] > vals[i] THEN 1
        |             WHEN vals[j] < vals[i] THEN -1 ELSE 0 END))))
        |    END AS s_stat
        |  FROM p),
        |ties AS (
        |  SELECT user_id,
        |    coalesce(sum(CASE WHEN t > 1
        |      THEN t * (t - 1) * (2 * t + 5) END), 0) AS tie_term
        |  FROM (SELECT user_id, "value", count(*) AS t FROM lastn
        |        GROUP BY 1, 2)
        |  GROUP BY user_id)
        |SELECT s.user_id, CAST(n_points AS BIGINT) AS n_points,
        |  CAST(s_stat AS BIGINT) AS s_stat,
        |  CAST(n_points * (n_points - 1) * (2 * n_points + 5)
        |    - tie_term AS BIGINT) AS var18
        |FROM s JOIN ties ON ties.user_id = s.user_id
        |ORDER BY s.user_id""".stripMargin,
    // last-32 pairwise slopes as one double division each (identical
    // IEEE result both engines); lower-median order statistic
    "rx_theil_sen" ->
      """WITH lastn AS (
        |  SELECT user_id, event_id, "value" FROM (
        |    SELECT user_id, event_id, "value",
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn <= 32),
        |p AS (
        |  SELECT user_id,
        |    list(event_id ORDER BY event_id) AS eids,
        |    list("value" ORDER BY event_id) AS vals
        |  FROM lastn GROUP BY user_id),
        |s AS (
        |  SELECT user_id, len(vals) AS n_points,
        |    CASE WHEN len(vals) < 2 THEN []::DOUBLE[]
        |    ELSE list_sort(flatten(list_transform(range(2, len(vals) + 1),
        |      j -> list_transform(range(1, j), i ->
        |        (vals[j] - vals[i])
        |          / CAST(eids[j] - eids[i] AS DOUBLE)))))
        |    END AS slopes
        |  FROM p)
        |SELECT user_id, CAST(n_points AS BIGINT) AS n_points,
        |  CAST(len(slopes) AS BIGINT) AS n_pairs,
        |  CASE WHEN len(slopes) > 0
        |    THEN slopes[(len(slopes) + 1) // 2] END AS slope_median
        |FROM s ORDER BY user_id""".stripMargin,
    "profile_table" ->
      (Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
        "l_shipdate").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_null,
           | count(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    // discrete rank-selected edges (value AT rank k*n div 10) — the
    // r8 fix: CONT interpolation diverged between engines at n~1M
    "q_equidepth" ->
      """WITH nn AS (SELECT count(*) AS n FROM orders),
        |rk AS (SELECT o_totalprice,
        |  row_number() OVER (ORDER BY o_totalprice) AS r FROM orders),
        |e AS (SELECT list_sort(list(o_totalprice)) AS edges
        | FROM rk, nn
        | WHERE r IN (n * 1 // 10, n * 2 // 10, n * 3 // 10,
        |   n * 4 // 10, n * 5 // 10, n * 6 // 10, n * 7 // 10,
        |   n * 8 // 10, n * 9 // 10))
        |SELECT CAST(len(list_filter(edges, x -> x < o_totalprice)) + 1
        |    AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders, e GROUP BY 1 ORDER BY bucket""".stripMargin,
    "emb_quantize" ->
      """WITH x AS (SELECT vec_id,
        |  list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xs
        |  FROM embeddings),
        |m AS (SELECT vec_id, xs,
        |  list_max(list_transform(xs, e -> abs(e))) AS max_abs FROM x),
        |q AS (SELECT vec_id, max_abs / 127.0 AS scale,
        |  list_transform(xs, e -> abs(e -
        |    greatest(-127.0, least(127.0,
        |      floor(e / (max_abs / 127.0) + 0.5))) * (max_abs / 127.0)))
        |    AS qerr
        |  FROM m WHERE max_abs > 0)
        |SELECT vec_id, scale,
        |  CAST(list_sum(list_transform(qerr,
        |    e -> CAST(floor(e * 1e9) AS BIGINT))) AS BIGINT)
        |    AS abs_err_scaled,
        |  CAST(floor(list_max(qerr) * 1e9) AS BIGINT) AS max_err_scaled
        |FROM q ORDER BY vec_id""".stripMargin,
    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END
        |    AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'same'
        |       ELSE 'changed' END AS change
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_equiwidth" ->
      """WITH s AS (SELECT min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi FROM orders)
        |SELECT least(CAST(9 AS BIGINT),
        |    CAST(floor((o_totalprice - lo) * 10 / (hi - lo)) AS BIGINT))
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(o_totalprice) AS b_min, max(o_totalprice) AS b_max
        |FROM orders, s GROUP BY 1 ORDER BY bucket""".stripMargin,
    "rx_rate_limit" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS rn
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, t, rn,
        |    TRUE AS admitted, CAST(2000000 AS BIGINT) AS tokens
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.t, e.rn,
        |    least(3000000, w.tokens + (e.t - w.t) * 2) >= 1000000
        |      AS admitted,
        |    least(3000000, w.tokens + (e.t - w.t) * 2)
        |      - CASE WHEN least(3000000, w.tokens + (e.t - w.t) * 2)
        |               >= 1000000 THEN 1000000 ELSE 0 END AS tokens
        |  FROM e JOIN w ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, event_id, t AS ts_ms, admitted,
        |  tokens AS tokens_micro
        |FROM w ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "rx_session_capped" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS rn
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, t, rn,
        |    CAST(1 AS BIGINT) AS session_id, t AS ss
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.t, e.rn,
        |    CASE WHEN e.t - w.t > 1800000 OR e.t - w.ss > 7200000
        |         THEN w.session_id + 1 ELSE w.session_id END,
        |    CASE WHEN e.t - w.t > 1800000 OR e.t - w.ss > 7200000
        |         THEN e.t ELSE w.ss END
        |  FROM e JOIN w ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, event_id, t AS ts_ms, session_id
        |FROM w ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "rx_funnel_windowed" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS t
        |  FROM events),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
        |  OVER (PARTITION BY user_id) AS t1 FROM ev),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |    AND t > t1 AND t <= t1 + 86400000 THEN t END)
        |  OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |    AND t > t2 AND t <= t2 + 86400000 THEN t END)
        |  OVER (PARTITION BY user_id) AS t3 FROM s2)
        |SELECT user_id, min(t1) AS view_ms, min(t2) AS click_ms,
        |  min(t3) AS purchase_ms,
        |  CAST(CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN min(t3) IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS reached_stage
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "rx_weighted_median" ->
      """WITH e AS (SELECT user_id, event_id, "value",
        |  event_id % 10 + 1 AS wt FROM events),
        |c AS (SELECT *,
        |  sum(wt) OVER (PARTITION BY user_id ORDER BY "value", event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |  sum(wt) OVER (PARTITION BY user_id) AS total FROM e)
        |SELECT user_id, min("value") AS w_median,
        |  CAST(min(total) AS BIGINT) AS total_weight
        |FROM c WHERE cumw * 2 >= total
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // staged MATERIALIZED CTEs with per-stage DISTINCT collapse: the
    // single-block form let DuckDB's reorderer pair supplier x
    // customer on the <> predicate (a near-cross-product that needed
    // >79GB of spill at sf1); pinning fact->supplier->customer keeps
    // every intermediate <= distinct(nation, custkey) and the result
    // identical
    "graph_triangles" ->
      """WITH lo AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |sn AS MATERIALIZED (
        |  SELECT DISTINCT s.s_nationkey AS a, lo.o_custkey
        |  FROM lo JOIN supplier s ON lo.l_suppkey = s.s_suppkey),
        |und AS (
        |  SELECT DISTINCT CAST(least(sn.a, c.c_nationkey) AS BIGINT) AS u,
        |    CAST(greatest(sn.a, c.c_nationkey) AS BIGINT) AS v
        |  FROM sn JOIN customer c ON sn.o_custkey = c.c_custkey
        |  WHERE sn.a <> c.c_nationkey)
        |SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |FROM und e1
        |JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
        |JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
        |ORDER BY n1, n2, n3""".stripMargin,
    // the graph_triangles enumeration rolled to per-corner credits;
    // cc = 2T/(deg(deg-1)) as one integer division, NULL under deg 2
    "graph_local_clustering" ->
      """WITH lo AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |sn AS MATERIALIZED (
        |  SELECT DISTINCT s.s_nationkey AS a, lo.o_custkey
        |  FROM lo JOIN supplier s ON lo.l_suppkey = s.s_suppkey),
        |und AS (
        |  SELECT DISTINCT CAST(least(sn.a, c.c_nationkey) AS BIGINT) AS u,
        |    CAST(greatest(sn.a, c.c_nationkey) AS BIGINT) AS v
        |  FROM sn JOIN customer c ON sn.o_custkey = c.c_custkey
        |  WHERE sn.a <> c.c_nationkey),
        |tri AS (
        |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |  FROM und e1
        |  JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
        |pn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT n1 AS node FROM tri
        |    UNION ALL SELECT n2 FROM tri
        |    UNION ALL SELECT n3 FROM tri) GROUP BY 1),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1)
        |SELECT deg.node, deg.deg,
        | coalesce(pn.n_triangles, 0) AS n_triangles,
        | CASE WHEN deg.deg >= 2 THEN
        |   coalesce(pn.n_triangles, 0) * 2000000 // (deg.deg * (deg.deg - 1))
        | END AS cc_ppm
        |FROM deg LEFT JOIN pn ON pn.node = deg.node
        |ORDER BY deg.node""".stripMargin,
    "q_unpivot" ->
      """WITH g AS (SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc,
        |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'quantity' AS measure, qty AS total FROM g
        |UNION ALL
        |SELECT l_returnflag, 'extendedprice', price FROM g
        |UNION ALL
        |SELECT l_returnflag, 'discount', disc FROM g
        |UNION ALL
        |SELECT l_returnflag, 'tax', tax FROM g
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q_merge_scd2" ->
      """WITH cust AS (SELECT c_custkey, c_acctbal FROM customer),
        |closed AS (SELECT c_custkey, c_acctbal + 50.0 AS bal,
        |  CAST(0 AS BIGINT) AS vf, CAST(50 AS BIGINT) AS vt
        | FROM cust WHERE c_custkey % 4 = 0),
        |cur AS (SELECT c_custkey, c_acctbal AS bal,
        |  CAST(CASE WHEN c_custkey % 4 = 0 THEN 50 ELSE 0 END AS BIGINT)
        |    AS vf,
        |  CAST(NULL AS BIGINT) AS vt FROM cust),
        |base AS (SELECT * FROM closed UNION ALL SELECT * FROM cur),
        |upd AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 6 = 0 THEN c_acctbal
        |       ELSE c_acctbal + 100.0 END AS u
        | FROM cust WHERE c_custkey % 3 = 0
        | UNION ALL
        | SELECT c_custkey + 100000000 AS c_custkey, c_acctbal AS u
        | FROM cust WHERE c_custkey % 10 = 0),
        |merged AS (
        | SELECT b.c_custkey, b.bal, b.vf, b.vt
        | FROM base b LEFT JOIN upd u USING (c_custkey)
        | WHERE NOT (b.vt IS NULL AND u.u IS NOT NULL AND u.u <> b.bal)
        | UNION ALL
        | SELECT b.c_custkey, b.bal, b.vf, CAST(100 AS BIGINT)
        | FROM base b JOIN upd u USING (c_custkey)
        | WHERE b.vt IS NULL AND u.u <> b.bal
        | UNION ALL
        | SELECT b.c_custkey, u.u, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        | FROM base b JOIN upd u USING (c_custkey)
        | WHERE b.vt IS NULL AND u.u <> b.bal
        | UNION ALL
        | SELECT u.c_custkey, u.u, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        | FROM upd u
        | WHERE u.c_custkey NOT IN (SELECT c_custkey FROM base))
        |SELECT c_custkey, bal, vf AS valid_from, vt AS valid_to,
        |  vt IS NULL AS is_current
        |FROM merged ORDER BY c_custkey, valid_from""".stripMargin,
    "text_bigram_fluency" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |bi AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
        | FROM (SELECT doc_id, tk,
        |   unnest(generate_series(1, len(tk) - 1)) AS i FROM d)),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        | FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
        | FROM c2 GROUP BY 1),
        |model AS (SELECT w1, w2, c2 * 1000000 // c1 AS p_ppm
        | FROM c2 JOIN c1 USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(p_ppm) // count(*) AS BIGINT) AS fluency_ppm
        |FROM bi JOIN model USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // floor(log2(x)) on both sides is the exact integer binary
    // length − 1: Spark length(bin(x)), DuckDB length(format('{:b}',x))
    "text_surprisal" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        | FROM documents),
        |c AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS bigt FROM c),
        |model AS (
        | SELECT t, CAST(length(format('{:b}', bigt))
        |   - length(format('{:b}', c)) AS BIGINT) AS s_bits
        | FROM c, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(s_bits) * 1000 // count(*) AS BIGINT) AS surprisal_milli
        |FROM tok JOIN model USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // entropy via n*flog2(n) - sum(tf*flog2(tf)), flog2 = binary length - 1
    "text_token_entropy" ->
      """WITH tf AS (
        | SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |  FROM documents)
        | GROUP BY doc_id, t),
        |agg AS (
        | SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n,
        |  CAST(sum(tf * (length(format('{:b}', tf)) - 1)) AS BIGINT) AS s1
        | FROM tf GROUP BY doc_id)
        |SELECT doc_id, n AS n_tokens,
        | CAST((n * (length(format('{:b}', n)) - 1) - s1) * 1000 // n
        |   AS BIGINT) AS entropy_milli
        |FROM agg ORDER BY doc_id""".stripMargin,
    // top-50 terms; rank/cumulative windows over the 50-row head
    "text_zipf_audit" ->
      """WITH tok AS (
        | SELECT unnest(string_split(lower(text), ' ')) AS term
        | FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM c),
        |top AS (SELECT term, tf FROM c ORDER BY tf DESC, term LIMIT 50),
        |r AS (SELECT term, tf,
        |  CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT)
        |    AS rank,
        |  CAST(sum(tf) OVER (ORDER BY tf DESC, term
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum
        |  FROM top)
        |SELECT rank, term, tf, CAST(rank * tf AS BIGINT) AS rf_product,
        |  CAST(cum * 1000000 // total AS BIGINT) AS cum_share_ppm
        |FROM r, tot ORDER BY rank""".stripMargin,
    // unordered pairs within a 3-token skip window, top-30 by count
    "text_cooccurrence" ->
      """WITH d AS (
        | SELECT string_split(lower(text), ' ') AS tk FROM documents
        | WHERE len(string_split(lower(text), ' ')) >= 2),
        |p AS (
        | SELECT least(tk[i], tk[i+j]) AS w1,
        |   greatest(tk[i], tk[i+j]) AS w2
        | FROM d, unnest(generate_series(1, 3)) g(j),
        |   unnest(generate_series(1, len(tk))) s(i)
        | WHERE i + j <= len(tk)),
        |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p GROUP BY 1, 2)
        |SELECT w1, w2, cnt FROM c
        |ORDER BY cnt DESC, w1, w2 LIMIT 30""".stripMargin,
    "text_ocr_artifacts" ->
      """WITH d AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS tk
        | FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')
        |    AND regexp_matches(t, '[0-9]'))) AS BIGINT) AS mixed_alnum,
        |  CAST(len(list_filter(tk, t -> length(t) = 1)) AS BIGINT)
        |    AS single_char,
        |  CAST(len(list_filter(tk, t -> regexp_matches(t, '-$')))
        |    AS BIGINT) AS hyphen_break
        |  FROM d WHERE len(tk) > 0)
        |SELECT doc_id, n_tokens, mixed_alnum, single_char, hyphen_break,
        |  CAST((mixed_alnum + single_char + hyphen_break) * 1000000
        |    // n_tokens AS BIGINT) AS artifact_ppm
        |FROM f ORDER BY doc_id""".stripMargin,
    // top-16 corpus vocab; per-source covered mass + OOV ppm
    "pipeline_vocab_coverage" ->
      """WITH tokc AS (
        | SELECT source, t AS term, CAST(count(*) AS BIGINT) AS cnt
        | FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS t
        |   FROM documents) GROUP BY 1, 2),
        |vocab AS (SELECT term FROM (
        |  SELECT term, sum(cnt) AS tf FROM tokc GROUP BY 1)
        |  ORDER BY tf DESC, term LIMIT 16),
        |cov AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN vocab.term IS NOT NULL THEN cnt ELSE 0 END)
        |    AS BIGINT) AS covered
        |  FROM tokc LEFT JOIN vocab ON tokc.term = vocab.term
        |  GROUP BY source)
        |SELECT source, n_tokens, covered,
        |  CAST((n_tokens - covered) * 1000000 // n_tokens AS BIGINT)
        |    AS oov_ppm
        |FROM cov ORDER BY source""".stripMargin,
    // multinomial NB on source labels; all logs are the exact
    // integer bit-length proxy (binary format length - 1)
    "text_nb_classify" ->
      """WITH tok AS (
        | SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS t
        | FROM documents),
        |tc AS (SELECT t, source AS cls, CAST(count(*) AS BIGINT) AS ntc
        |  FROM tok GROUP BY 1, 2),
        |model AS (SELECT t, cls,
        |  CAST(length(format('{:b}', ntc + 1)) - 1 AS BIGINT) AS fl1
        |  FROM tc),
        |mass AS (SELECT cls, CAST(sum(ntc) AS BIGINT) AS nc
        |  FROM tc GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tc),
        |priors AS (SELECT source AS cls, CAST(count(*) AS BIGINT) AS ndocs
        |  FROM documents GROUP BY 1),
        |stats AS (SELECT cls,
        |  CAST(length(format('{:b}', nc + v)) - 1 AS BIGINT) AS fl_den,
        |  CAST(length(format('{:b}', ndocs)) - 1 AS BIGINT) AS fl_prior
        |  FROM mass JOIN priors USING (cls), vocab),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |s1 AS (SELECT doc_id, cls, CAST(sum(tf * fl1) AS BIGINT) AS s1
        |  FROM tf JOIN model USING (t) GROUP BY 1, 2),
        |docn AS (SELECT doc_id, source AS actual,
        |  CAST(length(string_split(lower(text), ' ')) AS BIGINT) AS n_doc
        |  FROM documents),
        |scored AS (SELECT docn.doc_id AS doc_id, actual,
        |  stats.cls AS cls,
        |  coalesce(s1.s1, 0) - n_doc * fl_den + fl_prior AS score
        |  FROM docn CROSS JOIN stats
        |  LEFT JOIN s1 ON s1.doc_id = docn.doc_id AND s1.cls = stats.cls),
        |rk AS (SELECT doc_id, actual, cls, score, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
        |  FROM scored)
        |SELECT a.doc_id, a.actual, a.cls AS pred,
        |  CAST(a.score AS BIGINT) AS score_bits,
        |  CAST(a.score - b.score AS BIGINT) AS margin_bits
        |FROM rk a JOIN rk b ON a.doc_id = b.doc_id
        |  AND a.rn = 1 AND b.rn = 2
        |ORDER BY a.doc_id""".stripMargin,
    // DSIR hashed-unigram importance weights, target = lang 'en';
    // acceptance = md5 uniform vs min(1, 2^w) via a clamped shift
    "pipeline_dsir" ->
      """WITH feats AS (
        | SELECT doc_id,
        |   (('0x' || substr(md5('dsir:' || t), 1, 7))::BIGINT) % 4096 AS f
        | FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |   FROM documents)),
        |tgt_ids AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |raw AS (SELECT f, CAST(count(*) AS BIGINT) AS rc
        |  FROM feats GROUP BY f),
        |tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS tc
        |  FROM feats JOIN tgt_ids USING (doc_id) GROUP BY f),
        |model AS (SELECT f,
        |  CAST((length(format('{:b}', coalesce(tc, 0) + 1)) - 1)
        |     - (length(format('{:b}', rc + 1)) - 1) AS BIGINT) AS w_bits
        |  FROM raw LEFT JOIN tgt USING (f)),
        |totals AS (SELECT
        |  CAST((length(format('{:b}',
        |      (SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) FROM tgt)
        |        + 4096)) - 1)
        |   - (length(format('{:b}',
        |      (SELECT CAST(sum(rc) AS BIGINT) FROM raw) + 4096)) - 1)
        |    AS BIGINT) AS norm_bits),
        |perdoc AS (
        | SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |   CAST(sum(tf * w_bits) AS BIGINT) AS s
        | FROM (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS tf
        |       FROM feats GROUP BY 1, 2) tf JOIN model USING (f)
        | GROUP BY doc_id),
        |w AS (SELECT doc_id, n_tokens,
        |   s - n_tokens * norm_bits AS weight_bits,
        |   (('0x' || substr(md5('dsiru:' || CAST(doc_id AS VARCHAR)),
        |     1, 7))::BIGINT) % 1000000 AS u_ppm
        | FROM perdoc, totals)
        |SELECT doc_id, n_tokens, CAST(weight_bits AS BIGINT) AS weight_bits,
        |  u_ppm,
        |  CAST(CASE WHEN u_ppm < (1000000 >> CAST(
        |    greatest(0, least(-weight_bits, 62)) AS INT))
        |   THEN 1 ELSE 0 END AS BIGINT) AS accepted
        |FROM w ORDER BY doc_id""".stripMargin,
    // greedy epoch-discounted token allocation (util halves per epoch)
    "pipeline_epoch_mix" ->
      """WITH src AS (
        | SELECT source,
        |  CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |    AS avail,
        |  CAST(sum(len(list_distinct(string_split(lower(text), ' '))))
        |    AS BIGINT) AS uniq
        | FROM documents GROUP BY source),
        |q AS (SELECT source, avail,
        |  CAST(uniq * 1000000 // avail AS BIGINT) AS q_ppm FROM src),
        |b AS (SELECT CAST(sum(avail) // 2 AS BIGINT) AS budget FROM src),
        |cells AS (
        | SELECT source, avail, q_ppm, budget, CAST(e AS BIGINT) AS epoch,
        |   CAST(q_ppm >> CAST(e - 1 AS INT) AS BIGINT) AS util_ppm
        | FROM q, b, generate_series(1, 4) AS g(e)),
        |r AS (SELECT *, CAST(coalesce(sum(avail) OVER (
        |   ORDER BY util_ppm DESC, source, epoch
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS cum_before
        | FROM cells)
        |SELECT source, epoch, util_ppm, avail,
        | CAST(greatest(0, least(avail, budget - cum_before)) AS BIGINT)
        |   AS tokens_taken
        |FROM r ORDER BY source, epoch""".stripMargin,
    // 4 unrolled semi-synchronous peeling rounds at k = 20
    "graph_k_core" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS cust,
        |  CAST(l.l_suppkey AS BIGINT) AS supp
        | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |c1 AS (SELECT cust FROM e0 GROUP BY cust HAVING count(*) >= 20),
        |s1 AS (SELECT supp FROM e0 GROUP BY supp HAVING count(*) >= 20),
        |e1 AS MATERIALIZED (SELECT e0.cust, e0.supp FROM e0
        |  JOIN c1 USING (cust) JOIN s1 USING (supp)),
        |c2 AS (SELECT cust FROM e1 GROUP BY cust HAVING count(*) >= 20),
        |s2 AS (SELECT supp FROM e1 GROUP BY supp HAVING count(*) >= 20),
        |e2 AS MATERIALIZED (SELECT e1.cust, e1.supp FROM e1
        |  JOIN c2 USING (cust) JOIN s2 USING (supp)),
        |c3 AS (SELECT cust FROM e2 GROUP BY cust HAVING count(*) >= 20),
        |s3 AS (SELECT supp FROM e2 GROUP BY supp HAVING count(*) >= 20),
        |e3 AS MATERIALIZED (SELECT e2.cust, e2.supp FROM e2
        |  JOIN c3 USING (cust) JOIN s3 USING (supp)),
        |c4 AS (SELECT cust FROM e3 GROUP BY cust HAVING count(*) >= 20),
        |s4 AS (SELECT supp FROM e3 GROUP BY supp HAVING count(*) >= 20),
        |e4 AS MATERIALIZED (SELECT e3.cust, e3.supp FROM e3
        |  JOIN c4 USING (cust) JOIN s4 USING (supp))
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS round,
        |  CAST(count(DISTINCT cust) AS BIGINT) AS n_customers,
        |  CAST(count(DISTINCT supp) AS BIGINT) AS n_suppliers,
        |  CAST(count(*) AS BIGINT) AS n_edges FROM e1
        | UNION ALL SELECT 2, count(DISTINCT cust), count(DISTINCT supp),
        |  count(*) FROM e2
        | UNION ALL SELECT 3, count(DISTINCT cust), count(DISTINCT supp),
        |  count(*) FROM e3
        | UNION ALL SELECT 4, count(DISTINCT cust), count(DISTINCT supp),
        |  count(*) FROM e4)
        |ORDER BY round""".stripMargin,
    // 3 unrolled Gauss-Seidel HITS rounds, 1e12 sum-normalized scale
    "graph_hits" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS cust,
        |  CAST(l.l_suppkey AS BIGINT) AS supp
        | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |h0 AS MATERIALIZED (SELECT DISTINCT cust,
        |  CAST(1000000000000 AS HUGEINT) AS h FROM e),
        |a1r AS MATERIALIZED (SELECT supp, sum(h) AS raw FROM e JOIN h0 USING (cust)
        |  GROUP BY supp),
        |a1 AS MATERIALIZED (SELECT supp, CAST(raw * 1000000000000 //
        |  (SELECT sum(raw) FROM a1r) AS BIGINT) AS a FROM a1r),
        |h1r AS MATERIALIZED (SELECT cust, sum(CAST(a AS HUGEINT)) AS raw
        |  FROM e JOIN a1 USING (supp) GROUP BY cust),
        |h1 AS MATERIALIZED (SELECT cust, CAST(raw * 1000000000000 //
        |  (SELECT sum(raw) FROM h1r) AS BIGINT) AS h FROM h1r),
        |a2r AS MATERIALIZED (SELECT supp, sum(CAST(h AS HUGEINT)) AS raw
        |  FROM e JOIN h1 USING (cust) GROUP BY supp),
        |a2 AS MATERIALIZED (SELECT supp, CAST(raw * 1000000000000 //
        |  (SELECT sum(raw) FROM a2r) AS BIGINT) AS a FROM a2r),
        |h2r AS MATERIALIZED (SELECT cust, sum(CAST(a AS HUGEINT)) AS raw
        |  FROM e JOIN a2 USING (supp) GROUP BY cust),
        |h2 AS MATERIALIZED (SELECT cust, CAST(raw * 1000000000000 //
        |  (SELECT sum(raw) FROM h2r) AS BIGINT) AS h FROM h2r),
        |a3r AS MATERIALIZED (SELECT supp, sum(CAST(h AS HUGEINT)) AS raw
        |  FROM e JOIN h2 USING (cust) GROUP BY supp),
        |a3 AS MATERIALIZED (SELECT supp, CAST(raw * 1000000000000 //
        |  (SELECT sum(raw) FROM a3r) AS BIGINT) AS a FROM a3r),
        |h3r AS MATERIALIZED (SELECT cust, sum(CAST(a AS HUGEINT)) AS raw
        |  FROM e JOIN a3 USING (supp) GROUP BY cust),
        |h3 AS MATERIALIZED (SELECT cust, CAST(raw * 1000000000000 //
        |  (SELECT sum(raw) FROM h3r) AS BIGINT) AS h FROM h3r),
        |ta AS MATERIALIZED (SELECT 'authority' AS role, supp AS node, a AS score
        |  FROM a3 ORDER BY a DESC, supp LIMIT 20),
        |th AS MATERIALIZED (SELECT 'hub' AS role, cust AS node, h AS score
        |  FROM h3 ORDER BY h DESC, cust LIMIT 20)
        |SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
        |ORDER BY role, score DESC, node""".stripMargin,
    "search_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM d),
        |stats AS (SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)/count(*)
        |    AS avgdl, CAST(count(*) AS BIGINT) AS n FROM dl),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM d)
        |  WHERE t IN ('spark','join','window','stream') GROUP BY 1,2),
        |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |   CAST(((n - df + 0.5)/(df + 0.5)) *
        |        ((tf*2.2)/(tf + 1.2*(0.25 + 0.75*(dl/avgdl))))
        |     AS DECIMAL(18,6)) AS s
        |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats),
        |bm AS (SELECT doc_id, CAST(sum(s) AS DOUBLE) AS bm25 FROM sc
        |  GROUP BY 1),
        |lex AS (SELECT doc_id, CAST(row_number()
        |    OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        |  FROM bm QUALIFY lex_rank <= 50),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |cs AS (SELECT e.vec_id AS doc_id,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb,
        |      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |   * list_sum(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim
        | FROM embeddings e, q WHERE e.vec_id <> 0),
        |vec AS (SELECT doc_id, CAST(row_number()
        |    OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS vec_rank
        |  FROM cs QUALIFY vec_rank <= 50)
        |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |  l.lex_rank AS lex_rank, v.vec_rank AS vec_rank,
        |  CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
        |     + COALESCE(1000000 // (60 + v.vec_rank), 0) AS BIGINT)
        |    AS rrf_ppm
        |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
        |ORDER BY doc_id""".stripMargin,
    "rx_transitions" ->
      """WITH nx AS (
        | SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS to_type
        | FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n_trans
        |  FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, n_trans,
        | CAST((n_trans * 1000000) // n_from AS BIGINT) AS p_micro
        |FROM c JOIN t ON c.from_type = t.from_type
        |ORDER BY c.from_type, to_type""".stripMargin,
    "rx_twap" ->
      """WITH seg AS (
        | SELECT user_id, value, epoch_ms(ts) AS ts_ms,
        |  lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS next_ms
        | FROM events)
        |SELECT user_id, count(*) AS n_segments,
        | CAST(sum(next_ms - ts_ms) AS BIGINT) AS span_ms,
        | CAST(sum(CAST(value AS DECIMAL(18,2)) * (next_ms - ts_ms))
        |     AS DOUBLE)
        |  / CAST(CAST(sum(next_ms - ts_ms) AS BIGINT) AS DOUBLE) AS twap
        |FROM seg WHERE next_ms IS NOT NULL AND next_ms > ts_ms
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the oracle uses the running-max window form (so the oracle
    // itself scales past sf0.01 — same lesson as graph_triangles);
    // strict > against the max over strictly-lower prices is the
    // dominance test
    "q_skyline" ->
      """WITH champ AS (
        | SELECT p_retailprice AS price, max(p_size) AS best_size
        | FROM part GROUP BY 1),
        |r AS (
        | SELECT price, best_size,
        |  max(best_size) OVER (ORDER BY price
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |   AS prior_max
        | FROM champ)
        |SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p JOIN r
        | ON p.p_retailprice = r.price AND p.p_size = r.best_size
        |WHERE r.prior_max IS NULL OR r.best_size > r.prior_max
        |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin,
    "text_keywords" ->
      """WITH toks AS (
        | SELECT doc_id, t FROM documents,
        |  unnest(string_split(lower(text), ' ')) AS u(t)
        | WHERE length(t) >= 3
        |  AND t NOT IN ('the','a','of','and','to','in','is','it')),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, tf.t AS term, tf.tf, df.df,
        |  CAST((tf.tf * 1000000) // df.df AS BIGINT) AS score
        | FROM tf JOIN df ON tf.t = df.t)
        |SELECT doc_id, term, tf, df, score,
        | CAST(row_number() OVER (PARTITION BY doc_id
        |   ORDER BY score DESC, term) AS BIGINT) AS kw_rank
        |FROM sc QUALIFY kw_rank <= 3
        |ORDER BY doc_id, kw_rank""".stripMargin,
    "text_bpe_pairs" ->
      """WITH words AS (
        | SELECT w FROM documents,
        |  unnest(string_split(lower(text), ' ')) AS u(w)
        | WHERE length(w) >= 2 AND regexp_full_match(w, '[a-z0-9]+')),
        |p AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
        | FROM words,
        |  unnest(generate_series(1, length(w) - 1)) AS g(i))
        |SELECT pair, count(*) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, pair LIMIT 100""".stripMargin,
    "q_period_growth" ->
      """WITH m AS (
        | SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |    AS BIGINT) AS ym,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS rev_cents
        | FROM orders GROUP BY 1)
        |SELECT ym, rev_cents,
        | lag(rev_cents) OVER (ORDER BY ym) AS prev_cents,
        | CAST(((rev_cents - lag(rev_cents) OVER (ORDER BY ym)) * 1000000)
        |   // lag(rev_cents) OVER (ORDER BY ym) AS BIGINT) AS growth_ppm
        |FROM m ORDER BY ym""".stripMargin,
    "rx_rolling_actives" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        | FROM events),
        |mx AS (SELECT max(day) AS max_day FROM ud),
        |w AS (SELECT DISTINCT user_id, day + i AS wday
        | FROM ud, unnest(generate_series(0, 6)) AS g(i))
        |SELECT CAST(wday AS BIGINT) AS wday, count(*) AS active_users
        |FROM w, mx WHERE wday <= max_day
        |GROUP BY 1 ORDER BY wday""".stripMargin,
    "rx_streaks" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        | FROM events),
        |r AS (SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |   AS grp FROM ud),
        |runs AS (SELECT user_id, grp, count(*) AS len,
        |  CAST(min(day) AS BIGINT) AS start_day
        | FROM r GROUP BY 1, 2),
        |best AS (SELECT user_id, len, start_day,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY len DESC, grp) AS rn
        | FROM runs),
        |agg AS (SELECT user_id, count(*) AS n_streaks FROM runs GROUP BY 1)
        |SELECT b.user_id, b.len AS longest_streak,
        | b.start_day AS streak_start_day, a.n_streaks
        |FROM best b JOIN agg a ON b.user_id = a.user_id
        |WHERE rn = 1 ORDER BY b.user_id""".stripMargin,
    "q_corr_matrix" ->
      """WITH x AS (SELECT
        | CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
        | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS e,
        | CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d,
        | CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        | FROM lineitem),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(q) AS DOUBLE) AS s_q,
        | CAST(sum(e) AS DOUBLE) AS s_e,
        | CAST(sum(d) AS DOUBLE) AS s_d,
        | CAST(sum(t) AS DOUBLE) AS s_t,
        | CAST(sum(q * q) AS DOUBLE) AS ss_q,
        | CAST(sum(e * e) AS DOUBLE) AS ss_e,
        | CAST(sum(d * d) AS DOUBLE) AS ss_d,
        | CAST(sum(t * t) AS DOUBLE) AS ss_t,
        | CAST(sum(q * e) AS DOUBLE) AS sp_qe,
        | CAST(sum(q * d) AS DOUBLE) AS sp_qd,
        | CAST(sum(q * t) AS DOUBLE) AS sp_qt,
        | CAST(sum(e * d) AS DOUBLE) AS sp_ed,
        | CAST(sum(e * t) AS DOUBLE) AS sp_et,
        | CAST(sum(d * t) AS DOUBLE) AS sp_dt
        | FROM x)
        |SELECT col_a, col_b, pearson_r FROM (
        | SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  (n * sp_qe - s_q * s_e) / (sqrt(n * ss_q - s_q * s_q) * sqrt(n * ss_e - s_e * s_e)) AS pearson_r FROM m
        | UNION ALL SELECT 'l_quantity', 'l_discount',
        |  (n * sp_qd - s_q * s_d) / (sqrt(n * ss_q - s_q * s_q) * sqrt(n * ss_d - s_d * s_d)) FROM m
        | UNION ALL SELECT 'l_quantity', 'l_tax',
        |  (n * sp_qt - s_q * s_t) / (sqrt(n * ss_q - s_q * s_q) * sqrt(n * ss_t - s_t * s_t)) FROM m
        | UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |  (n * sp_ed - s_e * s_d) / (sqrt(n * ss_e - s_e * s_e) * sqrt(n * ss_d - s_d * s_d)) FROM m
        | UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |  (n * sp_et - s_e * s_t) / (sqrt(n * ss_e - s_e * s_e) * sqrt(n * ss_t - s_t * s_t)) FROM m
        | UNION ALL SELECT 'l_discount', 'l_tax',
        |  (n * sp_dt - s_d * s_t) / (sqrt(n * ss_d - s_d * s_d) * sqrt(n * ss_t - s_t * s_t)) FROM m)
        |ORDER BY col_a, col_b""".stripMargin,
    // CUSUM via the drawdown identity: prefix sum minus its running
    // min — window-frameable on both engines, exact integer cents
    "rx_cusum" ->
      """WITH x AS (
        | SELECT event_id, user_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xi
        | FROM events),
        |m AS (
        | SELECT event_id, user_id, xi,
        |  CAST(sum(xi) OVER (PARTITION BY user_id)
        |    // count(*) OVER (PARTITION BY user_id) AS BIGINT) AS ref
        | FROM x),
        |p AS (
        | SELECT event_id, user_id,
        |  sum(xi - ref) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
        | FROM m),
        |s AS (
        | SELECT event_id, user_id,
        |  pp - least(min(pp) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cusum
        | FROM p)
        |SELECT event_id, user_id, CAST(cusum AS BIGINT) AS cusum_cents,
        | cusum > 100000 AS alarm
        |FROM s ORDER BY user_id, event_id""".stripMargin,
    "rx_attribution" ->
      """WITH t AS (
        | SELECT event_type, value,
        |  last_value(CASE WHEN event_type <> 'purchase'
        |      THEN event_type END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM events)
        |SELECT coalesce(touch, 'direct') AS channel,
        | count(*) AS n_conversions,
        | CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS attributed_cents
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,
    "text_boilerplate" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        | SELECT doc_id, list_transform(generate_series(1, len(tk) - 4),
        |   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
        |        || tk[i+3] || ' ' || tk[i+4]) AS g
        | FROM toks WHERE len(tk) >= 5),
        |occ AS (SELECT doc_id, s.s AS gram FROM sh, unnest(sh.g) AS s(s)),
        |top AS (
        | SELECT gram FROM (
        |  SELECT gram, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1
        |  ORDER BY df DESC, gram LIMIT 20)),
        |cnt AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams FROM sh),
        |hits AS (
        | SELECT doc_id, count(*) AS boiler_hits FROM occ
        | WHERE gram IN (SELECT gram FROM top) GROUP BY 1)
        |SELECT c.doc_id, c.n_grams,
        | CAST(coalesce(h.boiler_hits, 0) AS BIGINT) AS boiler_hits,
        | CAST(coalesce(h.boiler_hits, 0) * 1000000 // c.n_grams AS BIGINT)
        |  AS boiler_ppm
        |FROM cnt c LEFT JOIN hits h ON c.doc_id = h.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    // oracle uses the self-join form (fine at oracle SF; the engine's
    // grouped emission is the 100 TB shape)
    "q_basket_pairs" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        | count(*) AS support
        |FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
        | AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY support DESC, p1, p2 LIMIT 100""".stripMargin,
    "rx_paths" ->
      """WITH f AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        | FROM events),
        |p AS (
        | SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        | FROM f WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT 50""".stripMargin,
    "rx_survival" ->
      """WITH b AS (
        | SELECT user_id, event_id, event_type,
        |  epoch_ms(ts) // 86400000 AS day
        | FROM events),
        |s AS (
        | SELECT user_id, min(event_id) AS sid,
        |  min_by(day, event_id) AS sday
        | FROM b WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (
        | SELECT b.user_id, min_by(b.day, b.event_id) AS pday
        | FROM b JOIN s ON b.user_id = s.user_id
        | WHERE b.event_type = 'purchase' AND b.event_id > s.sid
        | GROUP BY 1),
        |hz AS (SELECT max(day) AS max_day FROM b),
        |pu AS (
        | SELECT CASE WHEN fp.pday IS NOT NULL THEN fp.pday - s.sday
        |   ELSE hz.max_day - s.sday END AS day,
        |  CASE WHEN fp.pday IS NOT NULL THEN 1 ELSE 0 END AS event
        | FROM s LEFT JOIN fp ON s.user_id = fp.user_id, hz),
        |bd AS (
        | SELECT day, count(*) AS n_ended, sum(event) AS n_events
        | FROM pu GROUP BY 1),
        |cum AS (
        | SELECT day, n_events,
        |  sum(n_ended) OVER () -
        |   coalesce(sum(n_ended) OVER (ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS n_risk
        | FROM bd)
        |SELECT CAST(day AS BIGINT) AS day, CAST(n_risk AS BIGINT) AS n_risk,
        | CAST(n_events AS BIGINT) AS n_events,
        | CAST(n_events * 1000000 // n_risk AS BIGINT) AS hazard_ppm
        |FROM cum WHERE n_events > 0 ORDER BY day""".stripMargin,
    // SemDeDup: same argmax-assignment SQL as emb_kmeans, same
    // cosine as dedup_embedding — cluster-then-prune composition
    "dedup_semantic" ->
      """WITH c0 AS (
        | SELECT vec_id AS centroid_id, embedding AS c_emb
        | FROM embeddings WHERE vec_id < 8),
        |a AS (
        | SELECT e.vec_id, e.embedding, c.centroid_id,
        |  row_number() OVER (PARTITION BY e.vec_id
        |   ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |     s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |   / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |    * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC,
        |   c.centroid_id) AS rn
        | FROM embeddings e, c0 c),
        |asg AS (SELECT vec_id, embedding, centroid_id FROM a WHERE rn = 1),
        |st AS (
        | SELECT centroid_id, count(*) AS csize, min(vec_id) AS rep
        | FROM asg GROUP BY 1),
        |pairs AS (
        | SELECT l.centroid_id, l.vec_id AS id1, l.embedding AS e1,
        |  r.vec_id AS id2, r.embedding AS e2
        | FROM asg l JOIN st USING (centroid_id) JOIN asg r USING (centroid_id)
        | WHERE st.csize <= 256 AND l.vec_id < r.vec_id
        | UNION ALL
        | SELECT m.centroid_id, rb.vec_id, rb.embedding, m.vec_id, m.embedding
        | FROM asg m JOIN st USING (centroid_id)
        |  JOIN asg rb ON rb.vec_id = st.rep
        | WHERE st.csize > 256 AND m.vec_id <> st.rep),
        |scored AS (
        | SELECT centroid_id, id1, id2,
        |  (list_sum(list_transform(list_zip(e1, e2),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e1, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |   * list_sum(list_transform(e2, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos_sim
        | FROM pairs),
        |d AS (
        | SELECT id2 AS vec_id, centroid_id, id1, cos_sim,
        |  row_number() OVER (PARTITION BY id2 ORDER BY id1) AS rn
        | FROM scored WHERE cos_sim >= 0.25)
        |SELECT vec_id, centroid_id AS cluster_id, id1 AS dup_of, cos_sim
        |FROM d WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q_decile_lift" ->
      """WITH pc AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS cents
        | FROM orders GROUP BY 1),
        |r AS (
        | SELECT cents,
        |  row_number() OVER (ORDER BY cents DESC, o_custkey) - 1 AS rank0,
        |  count(*) OVER () AS n FROM pc),
        |g AS (
        | SELECT rank0 * 10 // n AS decile, count(*) AS n_customers,
        |  sum(cents) AS decile_cents
        | FROM r GROUP BY 1),
        |c AS (
        | SELECT decile, n_customers, decile_cents,
        |  sum(decile_cents) OVER (ORDER BY decile) AS cum,
        |  sum(decile_cents) OVER () AS tot
        | FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        | CAST(decile_cents AS BIGINT) AS decile_cents,
        | CAST(cum * 1000000 // tot AS BIGINT) AS cum_share_ppm
        |FROM c ORDER BY decile""".stripMargin,
    // whitening: 1e-6-quantized BIGINT moments; mean/sigma are one
    // fixed IEEE sequence each (sqrt is correctly rounded)
    "emb_whitening" ->
      """WITH q AS (
        | SELECT vec_id, CAST(d.d - 1 AS INT) AS dim,
        |  CAST(embedding[d.d] AS DOUBLE) AS x,
        |  CAST(floor(CAST(embedding[d.d] AS DOUBLE) * 1e6) AS BIGINT) AS qd
        | FROM embeddings, range(1, 65) d(d)),
        |st AS (
        | SELECT dim, sum(qd) AS s, sum(qd * qd) AS ss, count(*) AS n
        | FROM q GROUP BY 1),
        |st2 AS (
        | SELECT dim, CAST(s AS DOUBLE) / n / 1e6 AS mu,
        |  sqrt(CAST(n * ss - s * s AS DOUBLE)) / n / 1e6 AS sigma
        | FROM st)
        |SELECT q.vec_id, q.dim,
        | CASE WHEN sigma = 0 THEN 0.0 ELSE (x - mu) / sigma END AS w
        |FROM q JOIN st2 ON q.dim = st2.dim
        |ORDER BY q.vec_id, q.dim""".stripMargin,
    "text_dup_ngrams" ->
      """WITH tk AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id,
        |  list_transform(generate_series(1, greatest(len(t) - 1, 0)),
        |   i -> t[i] || ' ' || t[i+1]) AS s2,
        |  list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s3,
        |  list_transform(generate_series(1, greatest(len(t) - 3, 0)),
        |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS s4
        | FROM tk)
        |SELECT doc_id,
        | CASE WHEN len(s2) > 0 THEN
        |  (len(s2) - len(list_distinct(s2))) * 1000000 // len(s2)
        |  ELSE 0 END AS dup2_ppm,
        | CASE WHEN len(s3) > 0 THEN
        |  (len(s3) - len(list_distinct(s3))) * 1000000 // len(s3)
        |  ELSE 0 END AS dup3_ppm,
        | CASE WHEN len(s4) > 0 THEN
        |  (len(s4) - len(list_distinct(s4))) * 1000000 // len(s4)
        |  ELSE 0 END AS dup4_ppm
        |FROM sh ORDER BY doc_id""".stripMargin,
    "rx_pattern_match" ->
      """WITH p AS (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS pos
        | FROM events),
        |q AS (
        | SELECT user_id, event_id, event_type, pos,
        |  max(CASE WHEN event_type <> 'error' THEN pos END)
        |   OVER (PARTITION BY user_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pne
        | FROM p)
        |SELECT user_id, event_id AS purchase_event_id,
        | CAST(pos - 1 - coalesce(pne, 0) AS BIGINT) AS n_errors
        |FROM q
        |WHERE event_type = 'purchase' AND pos - 1 - coalesce(pne, 0) >= 1
        |ORDER BY user_id, purchase_event_id""".stripMargin,
    "rx_trending" ->
      """WITH c AS (
        | SELECT epoch_ms(ts) // 86400000 AS day, event_type,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT day, event_type, n,
        |  CAST(row_number() OVER (PARTITION BY day
        |    ORDER BY n DESC, event_type) AS BIGINT) AS rank
        | FROM c)
        |SELECT CAST(day AS BIGINT) AS day, rank, event_type, n
        |FROM r WHERE rank <= 3 ORDER BY day, rank""".stripMargin,
    "rx_ab_test" ->
      """WITH u AS (
        | SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS converted,
        |  sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS rev
        | FROM events GROUP BY 1),
        |a AS (
        | SELECT CASE WHEN strpos('01234567',
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) > 0
        |   THEN 'A' ELSE 'B' END AS arm,
        |  converted, rev
        | FROM u)
        |SELECT arm, count(*) AS n_users,
        | CAST(sum(converted) AS BIGINT) AS n_converted,
        | CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS conv_ppm,
        | CAST(sum(rev) AS BIGINT) AS rev_cents,
        | CAST(sum(rev) // count(*) AS BIGINT) AS arpu_cents
        |FROM a GROUP BY 1 ORDER BY arm""".stripMargin,
    // power iteration unrolled 3 rounds — per-row projections via
    // sequential list_sum, corpus reductions over quantized BIGINTs
    // (the emb_kmeans oracle pattern); CTE chain shared with emb_abtt
    "emb_pca" ->
      s"""WITH $pcaOracleCtes
        |SELECT CAST(u.i - 1 AS INT) AS dim, v3.v[u.i] AS loading
        |FROM v3, range(1, 65) u(i) ORDER BY dim""".stripMargin,
    "emb_abtt" ->
      s"""WITH $pcaOracleCtes,
        |tt AS (
        | SELECT e.vec_id, e.embedding,
        |  list_sum(list_transform(generate_series(1, 64),
        |   d -> (CAST(e.embedding[d] AS DOUBLE) - mu.m[d]) * v3.v[d])) AS t
        | FROM embeddings e, mu, v3)
        |SELECT tt.vec_id, CAST(d.d - 1 AS INT) AS dim,
        | CAST(tt.embedding[d.d] AS DOUBLE) - mu.m[d.d]
        |  - v3.v[d.d] * tt.t AS corrected
        |FROM tt, mu, v3, range(1, 65) d(d)
        |ORDER BY tt.vec_id, dim""".stripMargin,
    "rx_lifecycle" ->
      """WITH uw AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
        | FROM events),
        |st AS (
        | SELECT user_id, week,
        |  lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
        |  lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt
        | FROM uw),
        |act AS (
        | SELECT week,
        |  CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_new,
        |  CAST(sum(CASE WHEN prev = week - 1 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev < week - 1
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        | FROM st GROUP BY 1),
        |mx AS (SELECT max(week) AS maxw FROM uw),
        |ch AS (
        | SELECT week + 1 AS week, count(*) AS n_churned
        | FROM st, mx
        | WHERE week < maxw AND (nxt IS NULL OR nxt > week + 1)
        | GROUP BY 1)
        |SELECT CAST(coalesce(act.week, ch.week) AS BIGINT) AS week,
        | CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        | CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
        | CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
        | CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned
        |FROM act FULL OUTER JOIN ch ON act.week = ch.week
        |ORDER BY week""".stripMargin,
    // z-normalized distance: every list_sum mirrors one kernel loop,
    // every scalar step the same IEEE op in the same order
    "rx_ts_match" ->
      """WITH q AS (
        | SELECT [0.0, 0.0, 0.0, 10.0, 10.0, 0.0, 0.0, 0.0] AS qs),
        |qstat AS (
        | SELECT qs, list_sum(qs) / 8 AS mq,
        |  list_sum(list_transform(qs, v -> v * v)) / 8
        |   - (list_sum(qs) / 8) * (list_sum(qs) / 8) AS vq
        | FROM q),
        |w AS (
        | SELECT user_id,
        |  min(event_id) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS start_event_id,
        |  list("value") OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS seq
        | FROM events),
        |f AS (SELECT * FROM w WHERE len(seq) = 8),
        |s AS (
        | SELECT user_id, start_event_id, seq,
        |  list_sum(seq) / 8 AS mx,
        |  list_sum(list_transform(seq, v -> v * v)) / 8
        |   - (list_sum(seq) / 8) * (list_sum(seq) / 8) AS vx
        | FROM f),
        |d AS (
        | SELECT s.user_id, s.start_event_id,
        |  list_sum(list_transform(generate_series(1, 8), i ->
        |   ((CASE WHEN s.vx <= 0 THEN 0.0
        |      ELSE (s.seq[i] - s.mx) / sqrt(s.vx) END)
        |    - (CASE WHEN qstat.vq <= 0 THEN 0.0
        |      ELSE (qstat.qs[i] - qstat.mq) / sqrt(qstat.vq) END))
        |   * ((CASE WHEN s.vx <= 0 THEN 0.0
        |      ELSE (s.seq[i] - s.mx) / sqrt(s.vx) END)
        |    - (CASE WHEN qstat.vq <= 0 THEN 0.0
        |      ELSE (qstat.qs[i] - qstat.mq) / sqrt(qstat.vq) END))))
        |   AS dist
        | FROM s, qstat)
        |SELECT user_id, start_event_id, dist FROM d
        |ORDER BY dist, user_id, start_event_id LIMIT 10""".stripMargin,
    "text_charset_profile" ->
      """WITH b AS (
        | SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |   AS BIGINT) AS n_alpha,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |   AS BIGINT) AS n_digit,
        |  CAST(length(regexp_replace(text, '[^ ]', '', 'g'))
        |   AS BIGINT) AS n_space
        | FROM documents)
        |SELECT doc_id, n_chars,
        | CAST(n_alpha * 1000000 // n_chars AS BIGINT) AS alpha_ppm,
        | CAST(n_digit * 1000000 // n_chars AS BIGINT) AS digit_ppm,
        | CAST(n_space * 1000000 // n_chars AS BIGINT) AS space_ppm,
        | CAST((n_chars - n_alpha - n_digit - n_space) * 1000000
        |   // n_chars AS BIGINT) AS other_ppm
        |FROM b WHERE n_chars > 0 ORDER BY doc_id""".stripMargin,
    "rx_session_stats" ->
      """WITH g AS (
        | SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |   AS prev_ms
        | FROM events),
        |m AS (
        | SELECT user_id, ms,
        |  sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
        |   THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        | FROM g),
        |s AS (
        | SELECT user_id, sess_id, min(ms) AS start_ms, max(ms) AS end_ms,
        |  count(*) AS n_events
        | FROM m GROUP BY 1, 2),
        |d AS (
        | SELECT start_ms // 86400000 AS day, count(*) AS n_sessions,
        |  sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS n_bounce,
        |  sum(end_ms - start_ms) AS dur_sum, sum(n_events) AS ev_sum
        | FROM s GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day, n_sessions,
        | CAST(n_bounce * 1000000 // n_sessions AS BIGINT) AS bounce_ppm,
        | CAST(dur_sum // n_sessions AS BIGINT) AS mean_duration_ms,
        | CAST(ev_sum * 1000 // n_sessions AS BIGINT) AS mean_events_milli
        |FROM d ORDER BY day""".stripMargin,
    "rx_concurrency" ->
      """WITH g AS (
        | SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |   AS prev_ms
        | FROM events),
        |m AS (
        | SELECT user_id, ms,
        |  sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
        |   THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        | FROM g),
        |s AS (
        | SELECT user_id, sess_id, min(ms) AS start_ms, max(ms) AS end_ms
        | FROM m GROUP BY 1, 2),
        |dl AS (
        | SELECT start_ms // 60000 AS minute, 1 AS d FROM s
        | UNION ALL
        | SELECT end_ms // 60000 + 1 AS minute, -1 AS d FROM s),
        |agg AS (
        | SELECT minute, CAST(sum(d) AS BIGINT) AS delta FROM dl
        | GROUP BY 1 HAVING sum(d) <> 0)
        |SELECT CAST(minute AS BIGINT) AS minute, delta,
        | CAST(sum(delta) OVER (ORDER BY minute
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS active_sessions
        |FROM agg ORDER BY minute""".stripMargin,
    "rx_acf" ->
      """WITH daily AS (
        | SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        | FROM events GROUP BY 1, 2),
        |p AS (
        | SELECT a.event_type, l.lag, a.cents AS x, b.cents AS y
        | FROM daily a
        | CROSS JOIN (SELECT CAST(range AS BIGINT) AS lag
        |             FROM range(1, 8)) l
        | JOIN daily b
        |  ON b.event_type = a.event_type AND b.day = a.day - l.lag),
        |m AS (
        | SELECT event_type, lag, count(*) AS n,
        |  CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
        | FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, n,
        | (n * sxy - sx * sy) /
        |  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS acf_r
        |FROM m
        |WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |ORDER BY event_type, lag""".stripMargin,
    "rx_state_dwell" ->
      """WITH g AS (
        | SELECT event_type, epoch_ms(ts) AS ms,
        |  lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |    ORDER BY event_id) AS next_ms
        | FROM events)
        |SELECT event_type, count(*) AS n,
        | CAST(sum(next_ms - ms) AS BIGINT) AS total_dwell_ms,
        | CAST(sum(next_ms - ms) // count(*) AS BIGINT)
        |  AS mean_dwell_ms,
        | CAST(max(next_ms - ms) AS BIGINT) AS max_dwell_ms
        |FROM g WHERE next_ms IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_latency_hist" ->
      """WITH l AS (
        | SELECT (epoch_ms(l_shipdate) - epoch_ms(o_orderdate))
        |   // 86400000 // 7 AS week_bucket
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT week_bucket, count(*) AS n_items
        |FROM l GROUP BY 1 ORDER BY week_bucket""".stripMargin,
    "text_lexical_diversity" ->
      """WITH t AS (
        | SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        | FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
        |d AS (
        | SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types, CAST(sum(n * (n - 1)) AS BIGINT) AS s2
        | FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        | n_types * 1000000 // n_tokens AS ttr_ppm,
        | CASE WHEN n_tokens >= 2
        |  THEN s2 * 1000000 // (n_tokens * (n_tokens - 1))
        |  ELSE 0 END AS simpson_ppm
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_rfm" ->
      """WITH pc AS (
        | SELECT o_custkey,
        |  CAST(max(datediff('day', DATE '1990-01-01', o_orderdate))
        |    AS DOUBLE) AS recency,
        |  CAST(count(*) AS DOUBLE) AS frequency,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS cents
        | FROM orders GROUP BY 1),
        |cuts AS (
        | SELECT quantile_cont(recency, 0.25) AS r1,
        |  quantile_cont(recency, 0.5) AS r2,
        |  quantile_cont(recency, 0.75) AS r3,
        |  quantile_cont(frequency, 0.25) AS f1,
        |  quantile_cont(frequency, 0.5) AS f2,
        |  quantile_cont(frequency, 0.75) AS f3,
        |  quantile_cont(CAST(cents AS DOUBLE), 0.25) AS m1,
        |  quantile_cont(CAST(cents AS DOUBLE), 0.5) AS m2,
        |  quantile_cont(CAST(cents AS DOUBLE), 0.75) AS m3
        | FROM pc),
        |sc AS (
        | SELECT
        |  1 + CAST(recency > r1 AS INT) + CAST(recency > r2 AS INT)
        |    + CAST(recency > r3 AS INT) AS r_score,
        |  1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
        |    + CAST(frequency > f3 AS INT) AS f_score,
        |  1 + CAST(CAST(cents AS DOUBLE) > m1 AS INT)
        |    + CAST(CAST(cents AS DOUBLE) > m2 AS INT)
        |    + CAST(CAST(cents AS DOUBLE) > m3 AS INT) AS m_score,
        |  cents
        | FROM pc, cuts)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
        |  AS segment,
        | count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS seg_cents
        |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin,
    "pipeline_contrastive" ->
      """WITH a AS (
        | SELECT vec_id, label,
        |  lag(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS pos_id
        | FROM embeddings),
        |anch AS (SELECT * FROM a WHERE pos_id IS NOT NULL),
        |ring AS (
        | SELECT label AS neg_label, vec_id AS neg_id,
        |  row_number() OVER (PARTITION BY label
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS rk
        | FROM embeddings),
        |cnt AS (SELECT neg_label, count(*) AS cnt FROM ring GROUP BY 1),
        |lab AS (
        | SELECT neg_label AS label,
        |  coalesce(lead(neg_label) OVER (ORDER BY neg_label),
        |    min(neg_label) OVER ()) AS neg_label
        | FROM cnt),
        |slot AS (
        | SELECT anch.vec_id, anch.label, anch.pos_id, lab.neg_label,
        |  ('0x' || substr(md5(CAST(anch.vec_id AS VARCHAR)), 1, 15))::BIGINT
        |    % cnt.cnt AS rk
        | FROM anch JOIN lab ON anch.label = lab.label
        |  JOIN cnt ON lab.neg_label = cnt.neg_label)
        |SELECT s.vec_id, s.label, s.pos_id, r.neg_id
        |FROM slot s JOIN ring r
        | ON s.neg_label = r.neg_label AND s.rk = r.rk
        |ORDER BY s.vec_id""".stripMargin,
    "rx_burst" ->
      """WITH c AS (
        | SELECT event_type, epoch_ms(ts) // 60000 AS minute,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |t AS (
        | SELECT event_type, minute, n,
        |  coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY minute
        |    RANGE BETWEEN 10 PRECEDING AND 1 PRECEDING), 0) AS trail_sum
        | FROM c),
        |m AS (SELECT min(minute) AS m0 FROM c)
        |SELECT event_type, CAST(minute AS BIGINT) AS minute, n,
        | CAST(trail_sum AS BIGINT) AS trail_sum
        |FROM t, m
        |WHERE minute >= m0 + 10 AND n * 10 > 3 * trail_sum
        |ORDER BY event_type, minute""".stripMargin,
    "pipeline_padding_waste" ->
      """WITH t AS (
        | SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT)
        |  AS n_tok
        | FROM documents),
        |x AS (SELECT n_tok, c.c AS ctx FROM t,
        |  unnest([512, 1024, 2048]) AS c(c)),
        |g AS (
        | SELECT ctx, count(*) AS n_docs, sum(n_tok) AS total_tokens,
        |  sum(((n_tok + ctx - 1) // ctx) * ctx) AS padded_slots
        | FROM x GROUP BY 1)
        |SELECT CAST(ctx AS INT) AS ctx, n_docs,
        | CAST(total_tokens AS BIGINT) AS total_tokens,
        | CAST(padded_slots AS BIGINT) AS padded_slots,
        | CAST((padded_slots - total_tokens) * 1000000 // padded_slots
        |   AS BIGINT) AS waste_ppm
        |FROM g ORDER BY ctx""".stripMargin,
    "text_vocab_growth" ->
      """WITH fs AS (
        | SELECT t.t, min(doc_id) AS first_doc
        | FROM documents, unnest(string_split(lower(text), ' ')) AS t(t)
        | WHERE t.t <> '' GROUP BY 1),
        |cuts AS (
        | SELECT quantile_cont(CAST(doc_id AS DOUBLE), 0.1) AS c10,
        |  quantile_cont(CAST(doc_id AS DOUBLE), 0.5) AS c50,
        |  CAST(max(doc_id) AS DOUBLE) AS c100
        | FROM documents)
        |SELECT pct, count(*) AS vocab_size FROM (
        | SELECT CAST(10 AS BIGINT) AS pct FROM fs, cuts
        |  WHERE fs.first_doc <= cuts.c10
        | UNION ALL SELECT CAST(50 AS BIGINT) FROM fs, cuts
        |  WHERE fs.first_doc <= cuts.c50
        | UNION ALL SELECT CAST(100 AS BIGINT) FROM fs, cuts
        |  WHERE fs.first_doc <= cuts.c100)
        |GROUP BY 1 ORDER BY pct""".stripMargin,
    "rx_seasonality" ->
      """WITH d AS (
        | SELECT epoch_ms(ts) // 86400000 AS day,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   AS cents
        | FROM events GROUP BY 1),
        |t AS (
        | SELECT day, cents,
        |  sum(cents) OVER (ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w_sum,
        |  count(*) OVER (ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w_n
        | FROM d),
        |f AS (
        | SELECT day, cents, CAST(w_sum // w_n AS BIGINT) AS trend_cents,
        |  cents - CAST(w_sum // w_n AS BIGINT) AS detrended,
        |  (day + 4) % 7 AS dow
        | FROM t WHERE w_n = 7),
        |s AS (
        | SELECT dow,
        |  CAST(sum(detrended) // count(*) AS BIGINT) AS seasonal_cents
        | FROM f GROUP BY 1)
        |SELECT CAST(f.day AS BIGINT) AS day, f.cents, f.trend_cents,
        | s.seasonal_cents,
        | CAST(f.detrended - s.seasonal_cents AS BIGINT) AS residual_cents
        |FROM f JOIN s ON f.dow = s.dow ORDER BY day""".stripMargin,
    "q_basket_rules" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        | SELECT p1, p2, support FROM (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |   count(*) AS support
        |  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 ORDER BY support DESC, p1, p2 LIMIT 50)),
        |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM d),
        |sup AS (
        | SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS s_item
        | FROM d GROUP BY 1),
        |dir AS (
        | SELECT p1 AS lhs, p2 AS rhs, support FROM pairs
        | UNION ALL SELECT p2, p1, support FROM pairs)
        |SELECT lhs, rhs, support,
        | CAST(support * 1000000 // sl.s_item AS BIGINT)
        |  AS confidence_ppm,
        | CAST(nb.n_baskets * support * 1000000
        |   // (sl.s_item * sr.s_item) AS BIGINT) AS lift_ppm
        |FROM dir JOIN sup sl ON dir.lhs = sl.item
        | JOIN sup sr ON dir.rhs = sr.item, nb
        |ORDER BY lhs, rhs""".stripMargin,
    "pipeline_dataset_card" ->
      """WITH b AS (
        | SELECT source, lang,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  md5(lower(trim(text))) AS fp
        | FROM documents)
        |SELECT count(*) AS n_docs,
        | count(DISTINCT source) AS n_sources,
        | count(DISTINCT lang) AS n_langs,
        | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | count(DISTINCT fp) AS n_unique_docs,
        | CAST(sum(n_tok) // count(*) AS BIGINT) AS mean_tokens,
        | CAST((count(*) - count(DISTINCT fp)) * 1000000 // count(*)
        |   AS BIGINT) AS dup_ppm
        |FROM b""".stripMargin,
    // two unrolled greedy merge rounds over the weighted vocabulary;
    // replace()'s left-to-right non-overlap scan is greedy BPE in
    // both engines; ties break on the space-joined pair string
    "text_bpe_train" ->
      """WITH w AS (
        | SELECT t.t AS w, count(*) AS cnt
        | FROM documents, unnest(string_split(lower(text), ' ')) AS t(t)
        | WHERE regexp_full_match(t.t, '[a-z0-9]+') AND length(t.t) >= 2
        | GROUP BY 1),
        |s0 AS (
        | SELECT ' ' || array_to_string(list_transform(
        |   generate_series(1, length(w)),
        |   i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS s, cnt
        | FROM w),
        |p1 AS (
        | SELECT syms[i] || ' ' || syms[i+1] AS pr, sum(cnt) AS n FROM (
        |  SELECT string_split(trim(s), ' ') AS syms, cnt FROM s0),
        |  unnest(generate_series(1, len(syms) - 1)) AS g(i)
        | GROUP BY 1),
        |t1 AS (SELECT pr, n FROM p1 ORDER BY n DESC, pr LIMIT 1),
        |s1 AS (
        | SELECT replace(s0.s, ' ' || t1.pr || ' ',
        |   ' ' || replace(t1.pr, ' ', '') || ' ') AS s, cnt
        | FROM s0, t1),
        |p2 AS (
        | SELECT syms[i] || ' ' || syms[i+1] AS pr, sum(cnt) AS n FROM (
        |  SELECT string_split(trim(s), ' ') AS syms, cnt FROM s1),
        |  unnest(generate_series(1, len(syms) - 1)) AS g(i)
        | GROUP BY 1),
        |t2 AS (SELECT pr, n FROM p2 ORDER BY n DESC, pr LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS merge_rank,
        | string_split(pr, ' ')[1] AS left_sym,
        | string_split(pr, ' ')[2] AS right_sym,
        | CAST(n AS BIGINT) AS pair_count FROM t1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), string_split(pr, ' ')[1],
        | string_split(pr, ' ')[2], CAST(n AS BIGINT) FROM t2
        |ORDER BY merge_rank""".stripMargin,
    "rx_cohort_ltv" ->
      """WITH b AS (
        | SELECT user_id, epoch_ms(ts) // 604800000 AS week,
        |  CASE WHEN event_type = 'purchase'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END AS cents
        | FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM b GROUP BY 1),
        |sz AS (SELECT cohort_week, count(*) AS cohort_users
        | FROM c GROUP BY 1),
        |cells AS (
        | SELECT c.cohort_week, b.week - c.cohort_week AS age_weeks,
        |  CAST(sum(b.cents) AS BIGINT) AS rev_cents,
        |  count(DISTINCT b.user_id) AS active_users
        | FROM b JOIN c ON b.user_id = c.user_id GROUP BY 1, 2),
        |cum AS (
        | SELECT cohort_week, age_weeks, rev_cents, active_users,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY age_weeks) AS BIGINT) AS cum_cents
        | FROM cells)
        |SELECT CAST(cum.cohort_week AS BIGINT) AS cohort_week,
        | CAST(age_weeks AS BIGINT) AS age_weeks,
        | sz.cohort_users, active_users, rev_cents, cum_cents,
        | CAST(cum_cents // sz.cohort_users AS BIGINT)
        |  AS ltv_cents_per_user
        |FROM cum JOIN sz ON cum.cohort_week = sz.cohort_week
        |ORDER BY cohort_week, age_weeks""".stripMargin,
    "pipeline_token_budget" ->
      """WITH a AS (
        | SELECT source,
        |  CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |   AS available
        | FROM documents GROUP BY 1),
        |g AS (SELECT count(*) AS n_src,
        |  CAST(sum(available) // 2 AS BIGINT) AS budget FROM a),
        |r AS (
        | SELECT source, available,
        |  CAST(row_number() OVER (ORDER BY available, source) AS BIGINT)
        |   AS i,
        |  CAST(coalesce(sum(available) OVER (ORDER BY available, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS cum_before
        | FROM a),
        |f AS (
        | SELECT r.*, g.n_src, g.budget,
        |  cum_before + available * (g.n_src - i + 1) <= g.budget
        |   AS feasible
        | FROM r, g),
        |t AS (
        | SELECT CAST(sum(CASE WHEN feasible THEN available ELSE 0 END)
        |   AS BIGINT) AS cum_taken,
        |  CAST(sum(CASE WHEN feasible THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_taken
        | FROM f)
        |SELECT f.source, f.available,
        | CAST(CASE WHEN f.feasible THEN f.available
        |  ELSE (f.budget - t.cum_taken) // (f.n_src - t.n_taken)
        |  END AS BIGINT) AS allocated
        |FROM f, t ORDER BY f.source""".stripMargin,
    "rx_funnel_rates" ->
      """WITH s1 AS (SELECT user_id, event_type, event_id,
        |  min(CASE WHEN event_type = 'view' THEN event_id END)
        |    OVER (PARTITION BY user_id) AS t1 FROM events),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |    AND event_id > t1 THEN event_id END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |    AND event_id > t2 THEN event_id END)
        |    OVER (PARTITION BY user_id) AS t3 FROM s2),
        |pu AS (SELECT user_id, min(t1) AS v, min(t2) AS c, min(t3) AS p
        | FROM s3 GROUP BY 1),
        |st AS (
        | SELECT CAST(1 AS BIGINT) AS stage, 'view' AS name,
        |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_users FROM pu
        | UNION ALL
        | SELECT CAST(2 AS BIGINT), 'click',
        |  CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM pu
        | UNION ALL
        | SELECT CAST(3 AS BIGINT), 'purchase',
        |  CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM pu),
        |w AS (
        | SELECT stage, name, n_users,
        |  lag(n_users) OVER (ORDER BY stage) AS prev,
        |  first_value(n_users) OVER (ORDER BY stage) AS top
        | FROM st)
        |SELECT stage, name, n_users,
        | CAST(CASE WHEN prev IS NULL THEN 1000000
        |  WHEN prev = 0 THEN 0
        |  ELSE n_users * 1000000 // prev END AS BIGINT) AS step_ppm,
        | CAST(CASE WHEN top = 0 THEN 0
        |  ELSE n_users * 1000000 // top END AS BIGINT) AS overall_ppm
        |FROM w ORDER BY stage""".stripMargin,
    "q_market_hhi" ->
      """WITH rev AS (
        | SELECT n_name, s_suppkey,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev
        | FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | GROUP BY 1, 2)
        |SELECT n_name,
        | CAST(count(*) AS BIGINT) AS n_suppliers,
        | CAST(sum(rev) AS BIGINT) AS total_cents,
        | CAST(CAST(max(rev) AS HUGEINT) * 1000000 // sum(rev)
        |  AS BIGINT) AS top_share_ppm,
        | CAST(sum(CAST(rev AS HUGEINT) * rev) * 1000000
        |  // (CAST(sum(rev) AS HUGEINT) * sum(rev)) AS BIGINT)
        |  AS hhi_ppm
        |FROM rev GROUP BY 1 ORDER BY n_name""".stripMargin,
    "q_trade_balance" ->
      """WITH exp AS (
        | SELECT n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS export_cents
        | FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | GROUP BY 1),
        |imp AS (
        | SELECT n_name,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS import_cents
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1)
        |SELECT n_name,
        | coalesce(export_cents, 0) AS export_cents,
        | coalesce(import_cents, 0) AS import_cents,
        | coalesce(export_cents, 0) - coalesce(import_cents, 0)
        |  AS balance_cents,
        | CAST(CASE WHEN coalesce(import_cents, 0) = 0 THEN NULL
        |  ELSE CAST(coalesce(export_cents, 0) AS HUGEINT) * 1000000
        |   // import_cents END AS BIGINT) AS ratio_ppm
        |FROM exp FULL OUTER JOIN imp USING (n_name)
        |ORDER BY n_name""".stripMargin,
    "rx_drawdown" ->
      """WITH e AS (
        | SELECT user_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |p AS (
        | SELECT user_id, event_id, cents,
        |  CAST(max(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS HUGEINT) AS peak
        | FROM e)
        |SELECT user_id,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(max(cents) AS BIGINT) AS peak_cents,
        | CAST(arg_max(cents, event_id) AS BIGINT) AS final_cents,
        | CAST(max(peak - cents) AS BIGINT) AS max_dd_cents,
        | CAST(max(CASE WHEN peak > 0
        |  THEN (peak - cents) * 1000000 // peak END) AS BIGINT)
        |  AS max_dd_ppm
        |FROM p GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_gini" ->
      """WITH spend AS (
        | SELECT n_name, o_custkey,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS cents
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2),
        |r AS (
        | SELECT n_name, cents,
        |  row_number() OVER (PARTITION BY n_name
        |   ORDER BY cents, o_custkey) AS i
        | FROM spend)
        |SELECT n_name,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(cents) AS BIGINT) AS total_cents,
        | CAST(CASE WHEN sum(cents) > 0 THEN
        |  (2 * sum(CAST(i AS HUGEINT) * cents)
        |   - (count(*) + 1) * CAST(sum(cents) AS HUGEINT)) * 1000000
        |  // (CAST(count(*) AS HUGEINT) * sum(cents)) END AS BIGINT)
        |  AS gini_ppm
        |FROM r GROUP BY 1 ORDER BY n_name""".stripMargin,
    "graph_bfs" ->
      """WITH RECURSIVE
        |e0 AS MATERIALIZED (
        | SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        | SELECT c * 2 AS a, s * 2 + 1 AS b FROM e0
        | UNION ALL SELECT s * 2 + 1, c * 2 FROM e0),
        |src AS (
        | SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
        | WHERE s_nationkey = (SELECT n_nationkey FROM nation
        |   ORDER BY n_name, n_nationkey LIMIT 1)),
        |reach(node, d) AS (
        | SELECT node, 0 FROM src
        | UNION
        | SELECT e.b, r.d + 1 FROM reach r
        | JOIN edges e ON r.node = e.a WHERE r.d < 4),
        |best AS (SELECT node, min(d) AS hop FROM reach GROUP BY 1)
        |SELECT CAST(hop AS BIGINT) AS hop,
        | count(*) FILTER (WHERE node % 2 = 0) AS n_customers,
        | count(*) FILTER (WHERE node % 2 = 1) AS n_suppliers
        |FROM best GROUP BY 1 ORDER BY hop""".stripMargin,
    // PQ: slice → seed-assign (argmin L2, ties to lowest code) →
    // scaled-BIGINT mean recompute → final assign + floored-d2
    // rollup; the emb_kmeans CTE pattern under L2 with a subspace key
    "emb_pq" ->
      """WITH sl AS (
        |  SELECT vec_id, s.s AS sub,
        |    list_transform(generate_series(1, 16),
        |      i -> embedding[s.s * 16 + i]) AS v
        |  FROM embeddings, range(0, 4) s(s)),
        |seeds AS (
        |  SELECT sub, vec_id AS code, v AS c_v FROM sl WHERE vec_id < 8),
        |a1 AS (
        |  SELECT sl.vec_id, sl.sub, sl.v, c.code,
        |    row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
        |      list_sum(list_transform(list_zip(sl.v, c.c_v),
        |        s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |             (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))),
        |      c.code) AS rn
        |  FROM sl JOIN seeds c ON c.sub = sl.sub),
        |m1 AS (
        |  SELECT sub, code, d.d - 1 AS dim,
        |    sum(CAST(floor(CAST(v[d.d] AS DOUBLE) * 1e6) AS BIGINT)) AS s2,
        |    count(*) AS n
        |  FROM a1, range(1, 17) d(d) WHERE rn = 1 GROUP BY sub, code, d.d),
        |c1 AS (
        |  SELECT sub, code,
        |    list(CAST(CAST(s2 AS DOUBLE) / n / 1e6 AS FLOAT) ORDER BY dim)
        |      AS c_v
        |  FROM m1 GROUP BY sub, code),
        |a2 AS (
        |  SELECT sl.vec_id, sl.sub, c.code,
        |    list_sum(list_transform(list_zip(sl.v, c.c_v),
        |      s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |           (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))) AS d2,
        |    row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
        |      list_sum(list_transform(list_zip(sl.v, c.c_v),
        |        s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |             (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))),
        |      c.code) AS rn
        |  FROM sl JOIN c1 c ON c.sub = sl.sub)
        |SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(d2 * 1e6) AS BIGINT)) AS BIGINT)
        |    AS distortion_scaled,
        |  CAST(CAST(sum(CAST(floor(d2 * 1e6) AS BIGINT)) AS BIGINT)
        |    AS DOUBLE) / count(*) / 1e6 AS avg_dist2
        |FROM a2 WHERE rn = 1
        |GROUP BY sub, code ORDER BY sub, code""".stripMargin,
    // emb_pq's CTE family with the contiguous slice replaced by the
    // variance-ranked snake permutation (exact scaled-integer
    // variance -> rank -> snake deal -> per-sub gather)
    "emb_pq_balanced" ->
      """WITH vm AS (
        |  SELECT d.d - 1 AS dim,
        |    count(*) * sum(CAST(floor(CAST(embedding[d.d] AS DOUBLE)
        |        * 1e6) AS BIGINT) * CAST(floor(CAST(embedding[d.d]
        |        AS DOUBLE) * 1e6) AS BIGINT))
        |      - sum(CAST(floor(CAST(embedding[d.d] AS DOUBLE) * 1e6)
        |        AS BIGINT)) * sum(CAST(floor(CAST(embedding[d.d]
        |        AS DOUBLE) * 1e6) AS BIGINT)) AS var_s
        |  FROM embeddings, range(1, 65) d(d) GROUP BY d.d),
        |rk AS (
        |  SELECT dim, row_number() OVER (ORDER BY var_s DESC, dim) - 1
        |    AS r FROM vm),
        |asg AS (
        |  SELECT dim, CASE WHEN (r // 4) % 2 = 0 THEN r % 4
        |    ELSE 3 - (r % 4) END AS sub FROM rk),
        |idx AS (
        |  SELECT sub, list(dim ORDER BY dim) AS dims FROM asg
        |  GROUP BY sub),
        |sl AS (
        |  SELECT vec_id, sub,
        |    list_transform(dims, i -> embedding[i + 1]) AS v
        |  FROM embeddings, idx),
        |seeds AS (
        |  SELECT sub, vec_id AS code, v AS c_v FROM sl WHERE vec_id < 8),
        |a1 AS (
        |  SELECT sl.vec_id, sl.sub, sl.v, c.code,
        |    row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
        |      list_sum(list_transform(list_zip(sl.v, c.c_v),
        |        s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |             (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))),
        |      c.code) AS rn
        |  FROM sl JOIN seeds c ON c.sub = sl.sub),
        |m1 AS (
        |  SELECT sub, code, d.d - 1 AS dim,
        |    sum(CAST(floor(CAST(v[d.d] AS DOUBLE) * 1e6) AS BIGINT)) AS s2,
        |    count(*) AS n
        |  FROM a1, range(1, 17) d(d) WHERE rn = 1 GROUP BY sub, code, d.d),
        |c1 AS (
        |  SELECT sub, code,
        |    list(CAST(CAST(s2 AS DOUBLE) / n / 1e6 AS FLOAT) ORDER BY dim)
        |      AS c_v
        |  FROM m1 GROUP BY sub, code),
        |a2 AS (
        |  SELECT sl.vec_id, sl.sub, c.code,
        |    list_sum(list_transform(list_zip(sl.v, c.c_v),
        |      s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |           (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))) AS d2,
        |    row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
        |      list_sum(list_transform(list_zip(sl.v, c.c_v),
        |        s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) *
        |             (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))),
        |      c.code) AS rn
        |  FROM sl JOIN c1 c ON c.sub = sl.sub)
        |SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(d2 * 1e6) AS BIGINT)) AS BIGINT)
        |    AS distortion_scaled,
        |  CAST(CAST(sum(CAST(floor(d2 * 1e6) AS BIGINT)) AS BIGINT)
        |    AS DOUBLE) / count(*) / 1e6 AS avg_dist2
        |FROM a2 WHERE rn = 1
        |GROUP BY sub, code ORDER BY sub, code""".stripMargin,
    // the oracle scores sign bits SEMANTICALLY (per-dim sign
    // mismatch count); the Spark side packs them into BIGINT words
    // and XOR+bit_counts — different representation, same integers
    "emb_binary_quant" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |s AS (SELECT query_id, e.vec_id AS nid,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim,
        |  len(list_filter(list_zip(q_emb, e.embedding),
        |    z -> (CAST(z[1] AS DOUBLE) > 0) <> (CAST(z[2] AS DOUBLE) > 0)))
        |    AS hamming
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, nid, hamming,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, nid) AS re,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY hamming, nid) AS rh
        | FROM s)
        |SELECT query_id,
        | CAST(coalesce(sum(CASE WHEN re <= 10 AND rh <= 10 THEN 1 END),
        |   0) AS BIGINT) AS recall_at_k,
        | CAST(coalesce(sum(CASE WHEN re <= 10 THEN hamming END), 0)
        |   AS BIGINT) AS hamming_sum_exact_topk,
        | CAST(min(hamming) AS BIGINT) AS min_hamming
        |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin,
    // MMR: candidate pool + pairwise sims materialized once, then 4
    // unrolled greedy steps — each an (already-picked excluded via
    // HAVING count = |selected|) max-sim rollup + a rank-1 pick;
    // 0.5 multipliers are exact binary doubles, ties to lower id
    "search_mmr" -> {
      def cosSql(a: String, b: String) =
        s"""list_sum(list_transform(list_zip($a, $b),
           |  z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
           |/ sqrt(list_sum(list_transform($a,
           |      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
           |   * list_sum(list_transform($b,
           |      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"""
          .stripMargin
      val steps = (2 to 5).map { t =>
        val selUnion = (1 until t)
          .map(u => s"SELECT query_id, nid FROM s$u")
          .mkString(" UNION ALL ")
        s"""m$t AS MATERIALIZED (
           | SELECT c.query_id, c.nid,
           |  0.5 * c.rel - 0.5 * max(s.sim) AS score
           | FROM cand c
           | JOIN ($selUnion) x
           |  ON x.query_id = c.query_id AND c.nid <> x.nid
           | JOIN sims s ON s.query_id = c.query_id
           |  AND s.i = c.nid AND s.j = x.nid
           | GROUP BY c.query_id, c.nid, c.rel
           | HAVING count(*) = ${t - 1}),
           |s$t AS MATERIALIZED (
           | SELECT query_id, nid, score FROM (
           |  SELECT query_id, nid, score, row_number() OVER (
           |    PARTITION BY query_id ORDER BY score DESC, nid) AS rn
           |  FROM m$t) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (2 to 5).map(t =>
        s"SELECT query_id, $t AS pos, nid, score FROM s$t")
        .mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id < 20),
         |sc AS MATERIALIZED (
         |  SELECT query_id, e.vec_id AS nid,
         |    ${cosSql("q_emb", "e.embedding")} AS rel, e.embedding
         |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |cand AS MATERIALIZED (
         |  SELECT query_id, nid, rel, embedding FROM (
         |    SELECT query_id, nid, rel, embedding, row_number() OVER (
         |      PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
         |    FROM sc) WHERE rn <= 16),
         |sims AS MATERIALIZED (
         |  SELECT a.query_id, a.nid AS i, b.nid AS j,
         |    ${cosSql("a.embedding", "b.embedding")} AS sim
         |  FROM cand a JOIN cand b
         |   ON a.query_id = b.query_id AND a.nid <> b.nid),
         |s1 AS MATERIALIZED (
         |  SELECT query_id, nid, 0.5 * rel AS score FROM (
         |   SELECT query_id, nid, rel, row_number() OVER (
         |     PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
         |   FROM cand) WHERE rn = 1),
         |$steps
         |SELECT query_id, CAST(pos AS BIGINT) AS pos,
         |  nid AS neighbor_id, score AS mmr_score FROM (
         |SELECT query_id, 1 AS pos, nid, score FROM s1
         |UNION ALL
         |$unions)
         |ORDER BY query_id, pos""".stripMargin
    },
    // greedy k-center unrolled to 15 incremental steps: running
    // min-dist md folds with least() per pick; every pairwise d2 is
    // the same index-order double sum the l2_argmin kernel computes,
    // and min over identical doubles is order-free — so the pick
    // sequence and floor-scaled radii match the engine exactly
    "emb_kcenter" -> {
      def d2(a: String, b: String) =
        s"""list_sum(list_transform(list_zip($a, $b),
           | z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
           |    * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))))"""
          .stripMargin
      val steps = (2 to 16).map { r =>
        val prev = if (r == 2) "m1" else s"m${r - 1}"
        s"""p$r AS MATERIALIZED (SELECT vec_id, embedding, md FROM $prev
           | ORDER BY md DESC, vec_id LIMIT 1),
           |m$r AS MATERIALIZED (SELECT m.vec_id, m.embedding,
           |  least(m.md, ${d2("m.embedding", "p.embedding")}) AS md
           | FROM $prev m, p$r p WHERE m.vec_id <> p.vec_id)"""
          .stripMargin
      }.mkString(",\n")
      val unions = (2 to 16).map { r =>
        s"""SELECT $r AS rank, vec_id,
           | CAST(floor(md * 1e6) AS BIGINT) AS radius2_scaled
           |FROM p$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings),
         |s1 AS (SELECT vec_id, embedding FROM base
         |  ORDER BY vec_id LIMIT 1),
         |m1 AS MATERIALIZED (SELECT b.vec_id, b.embedding,
         |  ${d2("b.embedding", "s.embedding")} AS md
         | FROM base b, s1 s WHERE b.vec_id <> s.vec_id),
         |$steps
         |SELECT * FROM (
         |SELECT CAST(1 AS BIGINT) AS rank, vec_id,
         | CAST(NULL AS BIGINT) AS radius2_scaled FROM s1
         |UNION ALL
         |$unions)
         |ORDER BY rank""".stripMargin
    },
    // two-stage retrieval over the same scored frame: hamming-prune
    // to 32, exact-cosine rerank to 10, per-row exact-top-k flag
    "ann_binary_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |s AS (SELECT query_id, e.vec_id AS nid,
        |  list_sum(list_transform(list_zip(q_emb, e.embedding),
        |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q_emb,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |     * list_sum(list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cos_sim,
        |  len(list_filter(list_zip(q_emb, e.embedding),
        |    z -> (CAST(z[1] AS DOUBLE) > 0) <> (CAST(z[2] AS DOUBLE) > 0)))
        |    AS hamming
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, nid, cos_sim, hamming,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, nid) AS re,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY hamming, nid) AS rh
        | FROM s),
        |p AS (SELECT query_id, nid, cos_sim, re,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, nid) AS rnk
        | FROM r WHERE rh <= 32)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank,
        | nid AS neighbor_id, cos_sim,
        | CAST(CASE WHEN re <= 10 THEN 1 ELSE 0 END AS BIGINT)
        |   AS in_exact_topk
        |FROM p WHERE rnk <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // deterministic semi-synchronous LPA: 3 unrolled vote/argmax
    // rounds over the symmetrized bipartite purchase edge frame
    // (even ids = customers, odd = suppliers, the graph_bfs space)
    "graph_communities" ->
      """WITH e0 AS MATERIALIZED (
        | SELECT CAST(o.o_custkey * 2 AS BIGINT) AS a,
        |  CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS b, count(*) AS w
        | FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        | SELECT a, b, w FROM e0
        | UNION ALL SELECT b, a, w FROM e0),
        |l0 AS MATERIALIZED (
        | SELECT node, node AS lbl FROM
        |  (SELECT DISTINCT a AS node FROM sym)),
        |v1 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
        |b1 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v1),
        |l1 AS MATERIALIZED (
        | SELECT l0.node, coalesce(b.lbl, l0.lbl) AS lbl FROM l0
        | LEFT JOIN (SELECT node, lbl FROM b1 WHERE rn = 1) b
        |  USING (node)),
        |v2 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l1 l ON e.b = l.node GROUP BY 1, 2),
        |b2 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v2),
        |l2 AS MATERIALIZED (
        | SELECT l1.node, coalesce(b.lbl, l1.lbl) AS lbl FROM l1
        | LEFT JOIN (SELECT node, lbl FROM b2 WHERE rn = 1) b
        |  USING (node)),
        |v3 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l2 l ON e.b = l.node GROUP BY 1, 2),
        |b3 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v3),
        |l3 AS MATERIALIZED (
        | SELECT l2.node, coalesce(b.lbl, l2.lbl) AS lbl FROM l2
        | LEFT JOIN (SELECT node, lbl FROM b3 WHERE rn = 1) b
        |  USING (node)),
        |sizes AS (
        | SELECT lbl, count(*) AS community_size FROM l3 GROUP BY 1)
        |SELECT l3.node, l3.lbl AS community, sizes.community_size
        |FROM l3 JOIN sizes USING (lbl)
        |ORDER BY node""".stripMargin,
    // Newman-Girvan modularity over the SAME 3 unrolled LPA rounds:
    // per-community integer-ppm contribution, every division a
    // BIGINT floor (in_c*1e6 // 2m  -  (tot_c*1e6 // 2m)^2 // 1e6)
    "graph_modularity" ->
      """WITH e0 AS MATERIALIZED (
        | SELECT CAST(o.o_custkey * 2 AS BIGINT) AS a,
        |  CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS b, count(*) AS w
        | FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        | SELECT a, b, w FROM e0
        | UNION ALL SELECT b, a, w FROM e0),
        |l0 AS MATERIALIZED (
        | SELECT node, node AS lbl FROM
        |  (SELECT DISTINCT a AS node FROM sym)),
        |v1 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
        |b1 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v1),
        |l1 AS MATERIALIZED (
        | SELECT l0.node, coalesce(b.lbl, l0.lbl) AS lbl FROM l0
        | LEFT JOIN (SELECT node, lbl FROM b1 WHERE rn = 1) b
        |  USING (node)),
        |v2 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l1 l ON e.b = l.node GROUP BY 1, 2),
        |b2 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v2),
        |l2 AS MATERIALIZED (
        | SELECT l1.node, coalesce(b.lbl, l1.lbl) AS lbl FROM l1
        | LEFT JOIN (SELECT node, lbl FROM b2 WHERE rn = 1) b
        |  USING (node)),
        |v3 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l2 l ON e.b = l.node GROUP BY 1, 2),
        |b3 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v3),
        |l3 AS MATERIALIZED (
        | SELECT l2.node, coalesce(b.lbl, l2.lbl) AS lbl FROM l2
        | LEFT JOIN (SELECT node, lbl FROM b3 WHERE rn = 1) b
        |  USING (node)),
        |m AS (SELECT CAST(sum(w) AS BIGINT) AS twom FROM sym),
        |innw AS (
        | SELECT la.lbl AS community, CAST(sum(e.w) AS BIGINT) AS in_w
        | FROM sym e JOIN l3 la ON e.a = la.node
        |  JOIN l3 lb ON e.b = lb.node
        | WHERE la.lbl = lb.lbl GROUP BY 1),
        |st AS (
        | SELECT a AS node, CAST(sum(w) AS BIGINT) AS s
        | FROM sym GROUP BY 1),
        |tot AS (
        | SELECT l3.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(st.s) AS BIGINT) AS tot_w
        | FROM l3 JOIN st ON st.node = l3.node GROUP BY 1)
        |SELECT t.community, t.n_nodes,
        | CAST(coalesce(i.in_w, 0) AS BIGINT) AS in_w, t.tot_w,
        | CAST(coalesce(i.in_w, 0) * 1000000 // m.twom
        |  - ((t.tot_w * 1000000 // m.twom)
        |     * (t.tot_w * 1000000 // m.twom)) // 1000000
        |  AS BIGINT) AS q_contrib_ppm
        |FROM tot t LEFT JOIN innw i USING (community), m
        |ORDER BY community""".stripMargin,
    // semantic admission against the frozen IVF gate index:
    // auditable centroids (corpus vec_id < 16, iters = 0), corpus
    // assigned to argmax-cosine centroid (ties -> min centroid_id,
    // the cosine_argmax contract), wave probes its top-4 lists,
    // verdict = embeddingNearDup threshold over probed candidates
    "emb_admit_indexed" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
        |wave AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS c_emb
        |  FROM corpus WHERE vec_id < 16),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM corpus e, cents c),
        |a AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
        |qp AS (
        |  SELECT q.vec_id AS qid, q.embedding AS q_emb, c.centroid_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY (list_sum(list_transform(list_zip(q.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS pr
        |  FROM wave q, cents c),
        |probes AS (SELECT qid, q_emb, centroid_id FROM qp WHERE pr <= 4),
        |cand AS (
        |  SELECT p.qid,
        |    (list_sum(list_transform(list_zip(p.q_emb, a.embedding),
        |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos_sim
        |  FROM probes p JOIN a USING (centroid_id)),
        |v AS (
        |  SELECT qid,
        |    CAST(coalesce(sum(CASE WHEN cos_sim >= 0.4 THEN 1 END), 0)
        |      AS BIGINT) AS n_dup,
        |    CAST(coalesce(max(CASE WHEN cos_sim >= 0.4
        |      THEN CAST(floor(cos_sim * 1e6) AS BIGINT) END), -1)
        |      AS BIGINT) AS best_cos_scaled
        |  FROM cand GROUP BY 1)
        |SELECT w.vec_id,
        | CAST(coalesce(v.n_dup, 0) AS BIGINT) AS n_dup,
        | CAST(coalesce(v.best_cos_scaled, -1) AS BIGINT) AS best_cos_scaled,
        | coalesce(v.n_dup, 0) = 0 AS admitted
        |FROM wave w LEFT JOIN v ON v.qid = w.vec_id
        |ORDER BY w.vec_id""".stripMargin,
    // modularity over the UNIPARTITE co-sourcing projection: the
    // capped/thresholded ue CTE (the triangles oracle's), ns as the
    // edge weight, 3 unrolled LPA rounds, same BIGINT-floor rollup
    "graph_modularity_proj" ->
      """WITH bp AS MATERIALIZED (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(l_suppkey AS BIGINT) AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |capped AS MATERIALIZED (
        |  SELECT cust, supp FROM (
        |    SELECT cust, supp, row_number() OVER (PARTITION BY supp
        |      ORDER BY md5('tri:' || CAST(supp AS VARCHAR) || ':'
        |        || CAST(cust AS VARCHAR)), cust) AS rn
        |    FROM bp) WHERE rn <= 64),
        |ue AS MATERIALIZED (
        |  SELECT x.cust AS u, y.cust AS v, CAST(count(*) AS BIGINT) AS ns
        |  FROM capped x JOIN capped y
        |    ON x.supp = y.supp AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS MATERIALIZED (
        |  SELECT u AS a, v AS b, ns AS w FROM ue
        |  UNION ALL SELECT v, u, ns FROM ue),
        |l0 AS MATERIALIZED (
        | SELECT node, node AS lbl FROM
        |  (SELECT DISTINCT a AS node FROM sym)),
        |v1 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
        |b1 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v1),
        |l1 AS MATERIALIZED (
        | SELECT l0.node, coalesce(b.lbl, l0.lbl) AS lbl FROM l0
        | LEFT JOIN (SELECT node, lbl FROM b1 WHERE rn = 1) b
        |  USING (node)),
        |v2 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l1 l ON e.b = l.node GROUP BY 1, 2),
        |b2 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v2),
        |l2 AS MATERIALIZED (
        | SELECT l1.node, coalesce(b.lbl, l1.lbl) AS lbl FROM l1
        | LEFT JOIN (SELECT node, lbl FROM b2 WHERE rn = 1) b
        |  USING (node)),
        |v3 AS (
        | SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS vw
        | FROM sym e JOIN l2 l ON e.b = l.node GROUP BY 1, 2),
        |b3 AS (
        | SELECT node, lbl, row_number() OVER (PARTITION BY node
        |  ORDER BY vw DESC, lbl) AS rn FROM v3),
        |l3 AS MATERIALIZED (
        | SELECT l2.node, coalesce(b.lbl, l2.lbl) AS lbl FROM l2
        | LEFT JOIN (SELECT node, lbl FROM b3 WHERE rn = 1) b
        |  USING (node)),
        |m AS (SELECT CAST(sum(w) AS BIGINT) AS twom FROM sym),
        |innw AS (
        | SELECT la.lbl AS community, CAST(sum(e.w) AS BIGINT) AS in_w
        | FROM sym e JOIN l3 la ON e.a = la.node
        |  JOIN l3 lb ON e.b = lb.node
        | WHERE la.lbl = lb.lbl GROUP BY 1),
        |st AS (
        | SELECT a AS node, CAST(sum(w) AS BIGINT) AS s
        | FROM sym GROUP BY 1),
        |tot AS (
        | SELECT l3.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(st.s) AS BIGINT) AS tot_w
        | FROM l3 JOIN st ON st.node = l3.node GROUP BY 1)
        |SELECT t.community, t.n_nodes,
        | CAST(coalesce(i.in_w, 0) AS BIGINT) AS in_w, t.tot_w,
        | CAST(coalesce(i.in_w, 0) * 1000000 // m.twom
        |  - ((t.tot_w * 1000000 // m.twom)
        |     * (t.tot_w * 1000000 // m.twom)) // 1000000
        |  AS BIGINT) AS q_contrib_ppm
        |FROM tot t LEFT JOIN innw i USING (community), m
        |ORDER BY community""".stripMargin,
    // temporal drift: ref-half decile cuts by exact rank selection
    // over the score-domain rollup, then per-half decile masses
    "dq_drift" ->
      """WITH scored AS (
        | SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS s
        | FROM documents),
        |mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM scored),
        |halved AS (
        | SELECT doc_id, s,
        |  CASE WHEN doc_id <= (SELECT (lo + hi) // 2 FROM mm)
        |   THEN 'ref' ELSE 'cur' END AS half
        | FROM scored),
        |nref AS (SELECT count(*) AS nref FROM halved WHERE half = 'ref'),
        |refcum AS (
        | SELECT s, sum(count(*)) OVER (ORDER BY s
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM halved WHERE half = 'ref' GROUP BY s),
        |cuts AS (
        | SELECT i.i, min(r.s) AS b
        | FROM refcum r, range(1, 10) i(i), nref
        | WHERE r.cum * 10 >= i.i * nref.nref
        | GROUP BY i.i),
        |binned AS (
        | SELECT h.doc_id, h.half,
        |  CAST(sum(CASE WHEN h.s > c.b THEN 1 ELSE 0 END) AS BIGINT)
        |   AS bin
        | FROM halved h, cuts c GROUP BY h.doc_id, h.half),
        |tot AS (
        | SELECT
        |  CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS ref_tot,
        |  CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS cur_tot
        | FROM binned)
        |SELECT bin,
        | CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS ref_n,
        | CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS cur_n,
        | CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END)
        |  * 1000000 // (SELECT ref_tot FROM tot) AS BIGINT) AS ref_ppm,
        | CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END)
        |  * 1000000 // (SELECT cur_tot FROM tot) AS BIGINT) AS cur_ppm,
        | CAST(abs(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END)
        |   * 1000000 // (SELECT cur_tot FROM tot)
        |  - sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END)
        |   * 1000000 // (SELECT ref_tot FROM tot)) AS BIGINT)
        |  AS delta_ppm
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,
    // per-source dedup telemetry: fingerprint rollup + the auditable
    // minhash pair CTE (the dedup_union_cluster oracle's family)
    "dedup_report" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |msh AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
        |  FROM tk WHERE len(tk) >= 3),
        |dsh AS (SELECT doc_id, list_distinct(sh) AS ds FROM msh),
        |mpost AS (SELECT doc_id, s.s FROM msh, unnest(msh.sh) AS s(s)),
        |mhv AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM mpost),
        |mseeds AS (
        |  SELECT j.j AS j,
        |    1 + (('0x' || substr(md5('a:' || j.j), 1, 15))::BIGINT
        |         % 2147483646) AS a,
        |    ('0x' || substr(md5('b:' || j.j), 1, 15))::BIGINT
        |      % 2147483647 AS b
        |  FROM range(0, 64) j(j)),
        |mmins AS (
        |  SELECT doc_id, j, min((a * h + b) % 2147483647) AS m
        |  FROM mhv, mseeds GROUP BY doc_id, j),
        |mbands AS (
        |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |    ('0x' || substr(md5(array_to_string(
        |      list(CAST(m AS VARCHAR) ORDER BY j), '|')), 1, 15))::BIGINT AS bh
        |  FROM mmins GROUP BY doc_id, j // 4),
        |mcand AS (
        |  SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        |  FROM mbands l JOIN mbands r USING (band, bh)
        |  WHERE l.doc_id < r.doc_id),
        |mpairs AS (
        |  SELECT doc1, doc2
        |  FROM mcand JOIN dsh a ON a.doc_id = doc1
        |             JOIN dsh b ON b.doc_id = doc2
        |  WHERE CAST(len(list_intersect(a.ds, b.ds)) AS DOUBLE) /
        |    (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds))) >= 0.5),
        |near AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc1 AS doc_id FROM mpairs
        |    UNION ALL SELECT doc2 FROM mpairs)),
        |fps AS (
        |  SELECT doc_id, source, md5(lower(trim(text))) AS fp
        |  FROM documents),
        |dup AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
        |ex AS (SELECT doc_id FROM fps JOIN dup USING (fp))
        |SELECT d.source, count(*) AS n_docs,
        | count(e.doc_id) AS n_exact_dup, count(nr.doc_id) AS n_near_dup,
        | CAST(count(e.doc_id) * 1000000 // count(*) AS BIGINT)
        |  AS exact_ppm,
        | CAST(count(nr.doc_id) * 1000000 // count(*) AS BIGINT)
        |  AS near_ppm
        |FROM documents d
        | LEFT JOIN ex e ON e.doc_id = d.doc_id
        | LEFT JOIN near nr ON nr.doc_id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // deferred-acceptance balanced assignment, 3 unrolled rounds;
    // cosine formula = the emb_kmeans oracle parity contract
    "emb_capped_assign" ->
      """WITH c0 AS (
        | SELECT vec_id AS centroid_id, embedding AS c_emb
        | FROM embeddings WHERE vec_id < 16),
        |t AS (SELECT count(*) AS bign FROM embeddings),
        |cap AS (SELECT (bign * 5 + 63) // 64 AS cap FROM t),
        |prefraw AS (
        | SELECT e.vec_id, c.centroid_id,
        |  list_sum(list_transform(list_zip(e.embedding, c.c_emb),
        |    s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |    * list_sum(list_transform(c.c_emb,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos_sim
        | FROM embeddings e, c0 c),
        |pref AS (
        | SELECT vec_id, centroid_id, cos_sim,
        |  row_number() OVER (PARTITION BY vec_id
        |   ORDER BY cos_sim DESC, centroid_id) AS pref
        | FROM prefraw),
        |r1 AS (
        | SELECT p.*, row_number() OVER (PARTITION BY centroid_id
        |  ORDER BY cos_sim DESC, vec_id) AS arank
        | FROM pref p WHERE pref = 1),
        |a1 AS (
        | SELECT vec_id, centroid_id, cos_sim, 1 AS pref_used
        | FROM r1, cap WHERE arank <= cap),
        |rem1 AS (
        | SELECT c.centroid_id,
        |  (SELECT cap FROM cap) - count(a.vec_id) AS rem
        | FROM c0 c LEFT JOIN a1 a ON a.centroid_id = c.centroid_id
        | GROUP BY c.centroid_id),
        |r2 AS (
        | SELECT p.*, row_number() OVER (PARTITION BY p.centroid_id
        |  ORDER BY p.cos_sim DESC, p.vec_id) AS arank
        | FROM pref p
        | WHERE p.pref = 2
        |  AND p.vec_id NOT IN (SELECT vec_id FROM a1)),
        |a2 AS (
        | SELECT r.vec_id, r.centroid_id, r.cos_sim, 2 AS pref_used
        | FROM r2 r JOIN rem1 m USING (centroid_id)
        | WHERE r.arank <= m.rem),
        |rem2 AS (
        | SELECT m.centroid_id, m.rem - count(a.vec_id) AS rem
        | FROM rem1 m LEFT JOIN a2 a ON a.centroid_id = m.centroid_id
        | GROUP BY m.centroid_id, m.rem),
        |r3 AS (
        | SELECT p.*, row_number() OVER (PARTITION BY p.centroid_id
        |  ORDER BY p.cos_sim DESC, p.vec_id) AS arank
        | FROM pref p
        | WHERE p.pref = 3
        |  AND p.vec_id NOT IN (SELECT vec_id FROM a1)
        |  AND p.vec_id NOT IN (SELECT vec_id FROM a2)),
        |a3 AS (
        | SELECT r.vec_id, r.centroid_id, r.cos_sim, 3 AS pref_used
        | FROM r3 r JOIN rem2 m USING (centroid_id)
        | WHERE r.arank <= m.rem)
        |SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
        | cos_sim, CAST(pref_used AS BIGINT) AS pref_used
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |      UNION ALL SELECT * FROM a3)
        |ORDER BY vec_id""".stripMargin,
    "emb_capped_lloyd" -> cappedLloydSql,
    "rx_hysteresis" ->
      """WITH c AS (
        | SELECT user_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |x AS (
        | SELECT user_id, event_id, cents,
        |  CASE WHEN cents >= 10000 THEN 'on'
        |   WHEN cents <= 5000 THEN 'off' END AS crossing
        | FROM c),
        |s AS (
        | SELECT user_id, event_id, cents,
        |  coalesce(last_value(crossing IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'off')
        |   AS state
        | FROM x),
        |t AS (
        | SELECT user_id, event_id, cents, state,
        |  coalesce(lag(state) OVER (PARTITION BY user_id
        |   ORDER BY event_id), 'off') AS prev_state
        | FROM s)
        |SELECT user_id, event_id, cents, state
        |FROM t WHERE state <> prev_state
        |ORDER BY user_id, event_id""".stripMargin,
    "rx_peaks" ->
      """WITH c AS (
        | SELECT user_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |f AS (
        | SELECT user_id, event_id, cents,
        |  lag(cents) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS prev,
        |  lead(cents) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS next
        | FROM c)
        |SELECT user_id, event_id, cents,
        | cents - prev AS rise_cents, cents - next AS drop_cents
        |FROM f
        |WHERE prev IS NOT NULL AND next IS NOT NULL
        | AND cents > prev AND cents >= next
        |ORDER BY user_id, event_id""".stripMargin,
    "emb_robust_scale" ->
      """WITH q AS (
        | SELECT vec_id, d.d - 1 AS dim,
        |  CAST(embedding[d.d] AS DOUBLE) AS xd
        | FROM embeddings, range(1, 65) d(d)),
        |stats AS (
        | SELECT dim, quantile_cont(xd, 0.5) AS med,
        |  quantile_cont(xd, 0.75) - quantile_cont(xd, 0.25) AS iqr
        | FROM q GROUP BY dim)
        |SELECT q.vec_id, CAST(q.dim AS BIGINT) AS dim,
        | CASE WHEN s.iqr = 0 THEN 0.0
        |  ELSE (q.xd - s.med) / s.iqr END AS r
        |FROM q JOIN stats s USING (dim)
        |ORDER BY q.vec_id, q.dim""".stripMargin,
    "pipeline_quantile_norm" ->
      """WITH scored AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS raw
        | FROM documents),
        |pooled AS (
        | SELECT row_number() OVER (ORDER BY raw, doc_id) AS g,
        |  raw AS calibrated
        | FROM scored),
        |n AS (SELECT source, count(*) AS n FROM scored GROUP BY 1),
        |t AS (SELECT count(*) AS bign FROM scored),
        |ranked AS (
        | SELECT s.doc_id, s.source, s.raw,
        |  CASE WHEN n.n = 1 THEN (t.bign + 1) // 2
        |   ELSE (row_number() OVER (PARTITION BY s.source
        |          ORDER BY s.raw, s.doc_id) - 1)
        |        * (t.bign - 1) // (n.n - 1) + 1 END AS g
        | FROM scored s JOIN n USING (source), t)
        |SELECT r.doc_id, r.source, r.raw, p.calibrated
        |FROM ranked r JOIN pooled p USING (g)
        |ORDER BY r.doc_id""".stripMargin,
    "pipeline_class_balance" ->
      """WITH q AS (
        |  SELECT min(cn) AS quota FROM (
        |    SELECT count(*) AS cn FROM documents GROUP BY lang)),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('cb:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS rank_in_class
        |  FROM documents)
        |SELECT doc_id, lang, CAST(rank_in_class AS BIGINT)
        |  AS rank_in_class
        |FROM r, q WHERE rank_in_class <= quota
        |ORDER BY doc_id""".stripMargin,
    // the md5-prefix Bernoulli draw is the importance-sample idiom;
    // quota/count thresholds are exact floor-ppm integers
    "pipeline_class_balance_fast" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS cn FROM documents GROUP BY lang),
        |q AS (SELECT min(cn) AS quota FROM counts),
        |th AS (
        |  SELECT lang, quota * 1000000 // cn AS keep_ppm
        |  FROM counts, q)
        |SELECT d.doc_id, d.lang,
        | ('0x' || substr(md5('cb:' || CAST(d.doc_id AS VARCHAR)), 1, 7))
        |   ::BIGINT % 1000000 AS u_ppm,
        | th.keep_ppm
        |FROM documents d JOIN th USING (lang)
        |WHERE ('0x' || substr(md5('cb:' || CAST(d.doc_id AS VARCHAR)), 1, 7))
        |   ::BIGINT % 1000000 < th.keep_ppm
        |ORDER BY d.doc_id""".stripMargin
  )
}
