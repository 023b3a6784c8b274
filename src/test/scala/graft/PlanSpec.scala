package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Physical-plan quality gates: the properties that make these plans
  * survive a 100 TB scale-up must be visible in `explain`, not assumed.
  */
class PlanSpec extends GraftSuite {

  private def plan(name: String): String =
    Queries.registry(name)(spark, sf).queryExecution.executedPlan.toString

  test("scan-parallelism floor: tiny scans repartition to cores on a " +
      "derived key, at-scale scans and disabled sessions do not") {
    // the floor (optimization guide §2.5: one small unsplittable input
    // file serializes every pre-shuffle operator) must (a) fire on the
    // single-file local layouts, (b) partition on xxhash64(pk) — NEVER
    // the bare key, which would satisfy downstream requirements and
    // delete the exchange self-joining consumers reuse (measured: keep
    // _best 1.9 s -> 3.4 s), (c) vanish when disabled or when the scan
    // already has >= floor splits
    // (d) r16: the width is sized by input volume (one partition per
    // 96 KiB of on-disk parquet, capped at the floor),
    // not unconditionally cores — 32 near-empty partitions per table
    // load was the r15 driver's 32-core regression (VERDICT item 1)
    // Fixtures: sf0.1 documents.parquet is 594,568 bytes (width
    // ceil(bytes / 96 KiB) = 7), sf0.001's is 65,515 bytes (width 1).
    val sf01 = "/root/testdata/sf0.1"
    def docsPlan(dir: String): String =
      Tables.documents(spark, dir).queryExecution.executedPlan.toString
    try {
      // width sized by volume, below the cap
      spark.conf.set("spark.graft.scanFloor", "8")
      val p7 = docsPlan(sf01)
      assert(p7.contains("Exchange hashpartitioning(xxhash64(doc_id"), p7)
      assert(p7.contains(", 7)"), p7)
      // width capped at the floor
      spark.conf.set("spark.graft.scanFloor", "4")
      val p4 = docsPlan(sf01)
      assert(p4.contains("Exchange hashpartitioning(xxhash64(doc_id"), p4)
      assert(p4.contains(", 4)"), p4)
      // a file under the per-partition budget yields width 1 = no exchange
      val p1 = docsPlan(sf)
      assert(!p1.contains("Exchange"), p1)
    } finally spark.conf.unset("spark.graft.scanFloor")
    Tables.noScanFloor(spark) {
      val p = docsPlan(sf01)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("filter pushdown reaches the parquet scan") {
    val p = Tables.customer(spark, sf)
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal"), p)
  }

  test("column pruning: projections reach ReadSchema") {
    // text_stats touches only doc_id + text; lang/source/n_chars-from-disk
    // must not be read
    val p = plan("text_stats")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("column pruning holds for the round-3 document queries") {
    // each touches only doc_id + text; lang/source must not reach the
    // scan (dedup_spans is excluded: it localCheckpoints, so its final
    // plan is an RDD scan — its shape has a dedicated gate above)
    for (name <- Seq("text_salient_terms", "text_repetition")) {
      val p = plan(name)
      val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(reads.nonEmpty, s"$name: no ReadSchema\n$p")
      assert(reads.forall(r => !r.contains("lang") && !r.contains("source")),
        s"$name reads pruned columns:\n${reads.mkString("\n")}")
    }
  }

  test("in-list semi-join broadcasts the key side") {
    val p = plan("filter_in_list")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("enrichment lookup joins broadcast the dimension side") {
    val p = plan("enrich_lookup")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("vendor parsers are one narrow codegen'd projection, no UDFs") {
    import spark.implicits._
    val df = Seq("<189>29: foo: *Apr 29 13:58:40.411: %SYS-5-CONFIG_I: x")
      .toDF("message")
    for (f <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        graft.operators.VendorParsers.cisco(_),
        graft.operators.VendorParsers.checkpoint(_),
        graft.operators.VendorParsers.panos(_))) {
      val p = f(df).queryExecution.executedPlan.toString
      // narrow: no exchange, no driver-side eval, no python/scala UDF
      assert(!p.contains("Exchange"), p)
      assert(!p.toLowerCase.contains("batchevalpython") &&
        !p.contains("UDF"), p)
    }
  }

  test("simhash128 candidate join keys are packed longs, not strings") {
    val p = plan("dedup_simhash_128")
    // the banded join must key on the packed bigint chunk — never a
    // string band key (the silent shuffle killer); at test scale the
    // join may broadcast, so inspect the join keys, not the exchange
    val join = p.linesIterator.filter(_.contains("Join [chunk#")).toSeq
    assert(join.nonEmpty, p)
    // exprId suffix L = LongType key
    assert(join.exists(_.matches(".*Join \\[chunk#\\d+L\\].*")), join.mkString("\n"))
  }

  test("decontamination broadcasts the benchmark gram set") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // the 100 TB join strategy for repeated joins on the same key
    // (e.g. doc_id across dedup stages): bucket both sides once, every
    // later join skips its shuffle entirely
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS bkt_docs")
      spark.sql("DROP TABLE IF EXISTS bkt_meta")
      val docs = Tables.documents(spark, sf)
      docs.select("doc_id", "text").write
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("bkt_docs")
      docs.select(col("doc_id"), length(col("text")).as("len")).write
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("bkt_meta")
      val p = spark.table("bkt_docs").join(spark.table("bkt_meta"), "doc_id")
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
      assert(p.contains("SortMergeJoin"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS bkt_docs")
      spark.sql("DROP TABLE IF EXISTS bkt_meta")
    }
  }

  test("pair-generation self-joins reuse one exchange per side") {
    // candidate self-joins alias the SAME plan on both sides (renames
    // happen after the join), so the postings shuffle once and the
    // probe side is a ReusedExchange — at 100 TB this halves the most
    // expensive stage of every near-dup operator. AQE plans lazily and
    // broadcast would hide the exchange, so pin both off for the check.
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (name <- Seq("dedup_ngram_jaccard", "dedup_simhash_r3",
          "dedup_simhash_128", "dedup_embedding")) {
        val p = plan(name)
        assert(p.contains("ReusedExchange"), s"$name\n$p")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("ngram-jaccard reuses one shingle exchange under AQE ON (benched config)") {
    // the AQE-off gate above is not enough: with AQE on, the planner
    // used to broadcast one self-join side, whose build plan shared
    // nothing — the corpus was re-scanned and re-shingled per consumer.
    // The explicit repartition(shingle) pins one exchange that the DF
    // cap, BOTH self-join sides, and the size aggregation read. AQE
    // finalizes lazily, so run the query first, then inspect the final
    // adaptive plan: one documents scan, with ReusedExchange rows
    // pointing at the REPARTITION_BY_COL exchange.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    Tables.noScanFloor(spark) {
      val df = Queries.registry("dedup_ngram_jaccard")(spark, sf)
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan.toString
      val fin = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
      assert(fin.head.contains("isFinalPlan=true") ||
        p.contains("isFinalPlan=true"), p.take(500))
      val scans = fin.count(l => l.contains("FileScan parquet") &&
        l.contains("documents.parquet"))
      assert(scans == 1, s"expected 1 documents scan in final plan, got $scans\n$p")
      assert(fin.exists(l => l.contains("ReusedExchange") &&
        l.contains("REPARTITION_BY_COL")), p)
    }
  }

  test("semantic dedup self-join reuses one assignment exchange") {
    // both sides of the within-cluster self-join derive from the same
    // centroid-assignment subtree; the final adaptive plan must read
    // the embeddings parquet ONCE and feed the second join side from a
    // ReusedExchange — at 100 TB a duplicate scan doubles the dominant
    // cost (the broadcast-argmax assignment pass)
    val df = Queries.registry("dedup_semantic")(spark, sf)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
    val scans = fin.count(l => l.contains("FileScan parquet") &&
      l.contains("embeddings.parquet"))
    assert(scans == 1, s"expected 1 embeddings scan in final plan, got $scans\n$p")
    assert(fin.exists(_.contains("ReusedExchange")), p)
  }

  test("default-network-drivers fuses to one scan, no union, no shuffle") {
    // a literal junction compile would union 8 filtered branches and
    // re-scan the source once per application (Catalyst pushes the
    // branch filters below any pinned exchange, so exchange reuse
    // cannot save it). The fused compile routes once and guards every
    // parser: the whole composite is ONE projection chain — a single
    // events scan, no Union, and the only exchange is the query's
    // final ORDER BY.
    Tables.noScanFloor(spark) {
      val df = Queries.registry("default_network")(spark, sf)
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan.toString
      val fin = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
      val scans = fin.count(l => l.contains("FileScan parquet") &&
        l.contains("events.parquet"))
      assert(scans == 1, s"expected 1 events scan in final plan, got $scans\n$p")
      assert(!fin.exists(_.contains("Union")), p)
      val exchanges = fin.count(l => l.trim.startsWith("+- Exchange") ||
        l.trim.startsWith(":- Exchange") || l.trim.startsWith("Exchange"))
      assert(exchanges <= 1, s"expected only the ORDER BY exchange, got $exchanges\n$p")
    }
  }

  test("disjoint junctions fuse to one events scan, no union") {
    // app_parser (LogPath.appParser), route_junction (LogPath.compileJunction)
    // and config_pipeline_v3 (config if/elif/else) are final/fallback
    // junctions with row-local bodies. A union compile re-scans events
    // once per branch; FusedBranches falls back to it silently, so pin
    // the fused shape.
    Tables.noScanFloor(spark) {
      for (q <- Seq("app_parser", "route_junction", "config_pipeline_v3")) {
        val df = Queries.registry(q)(spark, sf)
        assert(df.queryExecution.optimizedPlan.collect {
          case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
        }.isEmpty, s"$q: Union in\n${df.queryExecution.optimizedPlan}")
        df.queryExecution.toRdd.count()
        val p = df.queryExecution.executedPlan.toString
        val fin = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
        val scans = fin.count(l => l.contains("FileScan parquet") &&
          l.contains("events.parquet"))
        assert(scans == 1, s"$q: expected 1 events scan, got $scans\n$p")
      }
    }
  }

  test("ingest config routes each row once: no union, bare pass-through " +
      "columns, a plan that does not grow with columns x branches") {
    // the if/elif/else pipeline of perfbench's ingest_steady workload
    val conf = """
    source s_net { network(transport(tcp) port(0)); };
    filter f_keep { severity(emerg..info) and not program("cron"); };
    parser p_kv { kv-parser(); };
    destination d_out { file("/bench/$ROUTE.log"); };
    log {
      source(s_net);
      filter(f_keep);
      parser(p_kv);
      if (message("action=login")) {
        rewrite(set("auth", value("route")));
      } elif (severity(emerg..err)) {
        rewrite(set("alert", value("route")));
      } else {
        rewrite(set("bulk", value("route")));
      };
      destination(d_out);
    };
    """
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CaseWhen}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Union}
    val spool = java.nio.file.Files.createTempDirectory("graft_plan_ingest")
    val (routes, listeners) = graft.config.ConfigCompiler.compileStreamingPipeline(
      graft.config.ConfigParser.parse(conf), spark, spool.resolve("spool").toString)
    try {
      // a streaming frame only plans inside a started query; run the
      // session's optimizer on its analyzed plan directly
      val df = routes.head.df
      val opt = df.sparkSession.sessionState.optimizer
        .execute(df.queryExecution.analyzed)
      assert(opt.collect { case u: Union => u }.isEmpty, opt.toString)
      val nodes = opt.collect { case n =>
        n.expressions.map(_.collect { case e => e }.size).sum }.sum
      info(s"optimized plan: $nodes expression nodes")
      assert(nodes <= 500, s"$nodes expression nodes\n$opt")
      // the fused projection: the one that computes `route`
      val fused = opt.collect { case p: Project
        if p.projectList.exists(e => e.name == "route" &&
          !e.isInstanceOf[AttributeReference]) => p }
      assert(fused.size == 1, opt.toString)
      for (c <- Seq("pri", "host", "program", "message", "values")) {
        val e = fused.head.projectList.find(_.name == c)
        assert(e.exists(_.isInstanceOf[AttributeReference]), s"$c: $e")
      }
      // the elif junction's channels join the outer route: `route` is one
      // CASE over the index, not a CASE nesting the inner one
      val route = fused.head.projectList.find(_.name == "route").get
      assert(route.collect { case c: CaseWhen => c }.size == 1, route.toString)
    } finally listeners.values.foreach(_.stop())
  }

  test("bestPerCluster is two salted max_by aggregates, no window sort") {
    // a row_number window would sort each component in one task — the
    // boilerplate mega-cluster straggler. The salted form is two hash
    // aggregates (map-side combinable) + a winner join-back.
    val df = Queries.registry("dedup_keep_best")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("max_by"), p)
  }

  test("asof join is ONE key shuffle, not a range join") {
    // the docstring's scale claim, asserted: both sides union into one
    // stream and hash-exchange once on the key; the only other exchange
    // is the query's final ORDER BY (a range partitioning)
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val l = Seq((1L, "k", 5L)).toDF("eid", "key", "t")
      val r = Seq(("k", 3L, "v")).toDF("key", "t", "v")
      val p = graft.operators.Enrich.asofJoin(l, col("key"), col("t"),
          r, col("key"), col("t"), struct(col("v")))
        .queryExecution.executedPlan.toString
      val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$p")
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("duplicated spans: map-side-combinable agg + semi-join on long keys") {
    // duplicatedSpans localCheckpoints its (small) result, so inspect
    // the pre-checkpoint shape: same postings + min/max agg + semi-join
    val grams = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(graft.pipeline.Dedup.wordShingles(
        col("text"), 8)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    val crossDoc = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(col("gh"))
    val p = grams.join(crossDoc, Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    // cross-doc gram detection must partially aggregate before its
    // exchange (min/max buffers), and the probe must be a semi-join
    assert(p.contains("partial_min") || p.contains("partial min"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("unigram quality: bounded vocab broadcasts, counts pre-aggregate") {
    // the vocab side must arrive broadcast (the cutoff is what keeps
    // the join broadcastable at 100 TB), never a shuffled join; the
    // token counts must partially aggregate before their exchange
    val p = plan("text_unigram_quality")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-K, not a full sort
    assert(p.contains("partial_count") || p.contains("partial count"), p)
  }

  test("bigram surprisal: broadcast scoring joins, bounded top-K tables") {
    // both count tables arrive BROADCAST (the top-K cutoffs are what
    // keep them broadcastable at 100 TB), counts partially aggregate
    // before their exchanges, and nothing sort-merges or goes cartesian
    val p = plan("text_bigram_surprisal")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-K, not full sorts
    assert(p.contains("partial_count") || p.contains("partial count"), p)
  }

  test("pq encode/search: one narrow compiled pass, no shuffle of the corpus") {
    // the codebook is driver-held; encoding must be a projection over
    // the scan — the ONLY exchange in either plan is the oracle's
    // final ORDER BY (embed_pq) / the top-k (ann_pq)
    Tables.noScanFloor(spark) {
      val enc = plan("embed_pq")
      assert(enc.contains("pq_encode"), enc)
      assert(!enc.contains("SortMergeJoin") && !enc.contains("BroadcastHashJoin"), enc)
      assert(enc.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1, enc)
      val ann = plan("ann_pq")
      assert(ann.contains("TakeOrderedAndProject"), ann) // top-k, no global sort
      assert(!ann.contains("Exchange hashpartitioning"), ann)
    }
  }

  test("ivf-pq: broadcast cells join + top-k, no corpus shuffle") {
    // index build = assign + residual-encode over a BROADCAST cells
    // table; search = pushed filter + compiled ADC + TakeOrdered — at
    // 100 TB the corpus must never hash-exchange
    Tables.noScanFloor(spark) {
      val p = plan("ann_ivfpq")
      assert(p.contains("BroadcastHashJoin"), p)
      assert(p.contains("TakeOrderedAndProject"), p)
      assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    }
  }

  test("semantic decontamination: the decision rides the scan — no join, no shuffle") {
    // the benchmark side is expression-resident (NearestCentroidCos);
    // the only exchange is the oracle harness's final ORDER BY
    Tables.noScanFloor(spark) {
      val p = plan("decontaminate_semantic")
      assert(p.contains("nearest_centroid_cos"), p)
      assert(!p.contains("Join"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    }
  }

  test("chunking: one narrow generate pass, no shuffle of the corpus") {
    // tokenize → explode chunk range → slice is narrow end-to-end; the
    // only exchange is the oracle harness's ORDER BY (rangepartitioning),
    // which production never runs — at 100 TB chunking must stay a
    // map-only stage over the scan
    Tables.noScanFloor(spark) {
      for (q <- Seq("text_chunking", "text_chunking_bpe")) {
        val p = plan(q)
        assert(p.contains("Generate explode"), s"$q\n$p")
        assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
          s"$q\n$p")
        assert(!p.contains("Exchange hashpartitioning"), s"$q\n$p")
      }
    }
  }

  test("pack sequences: the only single-partition pass is the tiny group table") {
    // the global prefix sum must NOT funnel the corpus through one
    // partition: the corpus-side running sum windows BY GROUP
    // (hashpartitioning) and only the group-totals table — one row per
    // ~1k docs, post-aggregate — crosses a SinglePartition exchange
    for (q <- Seq("text_pack_sequences", "text_pack_bpe")) {
      val p = plan(q)
      val fin = p.linesIterator.toSeq
      assert(fin.exists(l => l.contains("Window") &&
        l.contains("partitionBy")) ||
        p.contains("hashpartitioning(grp"), s"$q\n$p")
      assert(fin.count(_.contains("Exchange SinglePartition")) <= 1, s"$q\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q\n$p") // prefix offsets join
      assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"), s"$q\n$p")
    }
  }

  test("line dedup: no window over unbounded groups, semi-join survivors") {
    // keeper selection is a map-side-combinable min(struct) groupBy —
    // NOT a row_number window over per-line partitions (a mega-dup
    // line would straggle); survivors come back via a semi-join
    val p = plan("text_dedup_lines")
    assert(!p.contains("WindowExec"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("partial_min") || p.contains("partial min"), p)
  }

  test("hot paths stay inside whole-stage codegen") {
    // custom expressions (ParseSyslog here) must not force interpreted
    // fallback: the generated whole-stage code contains the static call
    // (AQE hides WholeStageCodegen spans in the pre-execution plan, so
    // inspect the codegen explain output instead)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Queries.registry("parse_syslog_rfc3164")(spark, sf)
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(s.contains("WholeStageCodegen"), s.take(2000))
      assert(s.contains("SyslogLineParser.parseRow"), s.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
  test("patterndb_synthetic: one aggregation exchange, no window, no cartesian") {
    // per-context synthetic generation = ONE groupBy(host) shuffle with
    // a partial aggregate below it; a window or cartesian here would be
    // the 100 TB scale-killer
    Tables.noScanFloor(spark) {
      val p = plan("patterndb_synthetic")
      assert(!p.contains("Window"), p)
      assert(!p.contains("Cartesian"), p)
      val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
        p.linesIterator.count(_.trim.startsWith(":- Exchange")) +
        p.linesIterator.count(_.trim.startsWith("Exchange"))
      assert(exchanges <= 2, s"too many exchanges ($exchanges):\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate") ||
        p.contains("SortAggregate"), p)
    }
  }

  test("bucketed seen-index: the incremental-dedup anti-join never shuffles the index") {
    import spark.implicits._
    val warehouse = java.nio.file.Files.createTempDirectory("graft_bucket_")
    val table = "graft_seen_idx_test"
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // force the sort-merge path: at 100 TB the index never broadcasts
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val seen = (0 until 500).map(i => s"sig$i").toDF("signature")
      Dedup.writeSeenIndex(seen, table, buckets = 4)
      val wave = (0 until 1000).map(i => (i.toLong, s"sig${i % 700}"))
        .toDF("id", "k")
      val out = Dedup.incrementalSurvivorsBucketed(spark, wave, col("k"),
        col("id"), table)
      // correctness: only sigs 500..699 are new; min id per sig survives
      assert(out.count() == 200, out.count())
      val p = out.queryExecution.executedPlan.toString
      // the index side reads as a bucketed scan: exactly the wave-side
      // exchanges appear, and the scan line advertises the buckets
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p)
      // no Exchange may sit between the index scan and its join: the
      // subtree below the anti-join's right side is exchange-free
      val idxSide = p.linesIterator.dropWhile(!_.contains(table)).toSeq
      assert(idxSide.nonEmpty, p)
      assert(!idxSide.headOption.exists(_.contains("Exchange")), p)
      // admit the wave's survivors: APPEND with the same bucket spec —
      // the rolling-index maintenance step (no index rewrite). A second
      // wave overlapping the first wave's sigs must dedup against BOTH
      // generations, still without an index-side exchange.
      Dedup.appendToSeenIndex(
        out.select(col("k").as("signature")), table, buckets = 4)
      val wave2 = (0 until 1000).map(i => (10000L + i, s"sig${i % 900}"))
        .toDF("id", "k")
      val out2 = Dedup.incrementalSurvivorsBucketed(spark, wave2, col("k"),
        col("id"), table)
      assert(out2.count() == 200, out2.count()) // only sigs 700..899 new
      val p2 = out2.queryExecution.executedPlan.toString
      assert(p2.contains("SelectedBucketsCount") || p2.contains("Bucketed: true"), p2)
      val idxSide2 = p2.linesIterator.dropWhile(!_.contains(table)).toSeq
      assert(!idxSide2.headOption.exists(_.contains("Exchange")), p2)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(warehouse.toFile)
    }
  }

  test("centroid assignment argmax aggregates skinny rows — the vector " +
      "never rides the pre-aggregate sort") {
    // max over a struct cannot hash-aggregate, so the argmax plans a
    // SortAggregate; carrying v through it as first(v) put a 256 B
    // vector on every candidate row feeding the sort — StageProbe at
    // sf100p measured that one stage at 104.6 GB spill / 85% of
    // dedup_semantic_prod's task time, and its sf1000p spills filled
    // the disk. The aggregate must stay (vec_id, cand)-skinny, with v
    // joined back afterwards (bit-identical assignments, gated by the
    // tree==flat equality specs).
    Tables.noScanFloor(spark) {
      val base = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").as("v"))
      // expression regime (k <= fineExprMax): the ENTIRE assignment is
      // one map-only compiled pass — no join, no aggregate, no exchange
      val expr = graft.pipeline.Similarity.assignClusters(base, 256,
        flatMax = 1, nProbe = 2, levels = 3)
      val pe = expr.queryExecution.executedPlan.toString
      assert(pe.contains("nearest_fine_tree"), pe)
      assert(!pe.contains("Exchange") && !pe.contains("Aggregate") &&
        !pe.contains("Join"), s"expression regime not map-only:\n$pe")
      // distributed-join regime (k past the driver-CSR cap, forced via
      // fineExprMax = 0) and the two-level path: the argmax aggregate
      // must stay (vec_id, cand)-skinny
      val joins = Seq(
        graft.pipeline.Similarity.assignClusters(base, 256, flatMax = 1,
          nProbe = 2, levels = 3, fineExprMax = 0),
        graft.pipeline.Similarity.assignClusters(base, 256, flatMax = 1,
          nProbe = 2, levels = 2))
      for (out <- joins) {
        val p = out.queryExecution.executedPlan.toString
        assert(p.contains("Aggregate"), p)
        assert(!p.contains("first(v"), s"vector rides the argmax aggregate:\n$p")
      }
    }
  }

  test("minhash band index FALLBACK regime (wave over the broadcast " +
      "cap): index sides still never exchange, the WAVE side shuffles " +
      "into the bucketed band layout, results identical") {
    // r14 made wave admission size-aware (a 5M-doc wave force-broadcast
    // aborts the driver on maxResultSize — sf1000p cell, in-artifact);
    // r15 pins the degraded plan's shape: with maxBroadcastWave=0 every
    // hint is dropped, the joins go SMJ, and the persisted index keeps
    // its bucketing so only the wave side moves (never an index
    // rewrite/re-sign). The admitted set must match the broadcast
    // regime exactly — the cap is an execution knob, not semantics.
    import spark.implicits._
    val table = "graft_mh_fb_test"
    try {
      val corpus = (0 until 60).map(i => (i.toLong,
        s"alpha bravo charlie delta echo foxtrot golf hotel india " +
          s"juliet kilo lima token$i")).toDF("id", "text")
      Dedup.writeMinhashBandIndex(corpus, col("id"), col("text"), table,
        buckets = 4)
      val wave = Seq(
        (1007L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
          "juliet kilo lima token7"),
        (1101L, "one two three four five six seven eight nine ten eleven"),
        (1102L, "one two three four five six seven eight nine ten eleven"),
        (1200L, "completely different words nothing shared with anything else here")
      ).toDF("id", "text")
      def admitted(cap: Long): (Set[Long], String) = {
        val out = Dedup.minhashIncrementalAgainstIndex(spark, wave,
          col("id"), col("text"), table, threshold = 0.7,
          maxBroadcastWave = cap)
        (out.select("id").collect().map(_.getLong(0)).toSet,
          out.queryExecution.executedPlan.toString)
      }
      val (idsB, _) = admitted(1000000L)
      val (idsF, pF) = admitted(0L)
      assert(idsF == idsB && idsF == Set(1101L, 1200L), (idsF, idsB))
      // degraded regime: sort-merge joins, and STILL no exchange on
      // either bucketed index side (band/id bucket layouts absorb the
      // join clustering; the wave side pays the shuffle)
      assert(pF.contains("SortMergeJoin"), pF)
      assert(!pF.contains("Exchange hashpartitioning(band"),
        s"index bands exchanged in fallback:\n$pF")
      val docScanIdx = pF.linesIterator.toVector
        .indexWhere(_.contains(s"${table}_docs"))
      assert(docScanIdx >= 0, pF)
      // no xxhash/md5-of-shingle recompute above an index scan: the
      // corpus is never re-signed in either regime
      assert(!pF.contains("shingle") ||
        !pF.linesIterator.exists(l => l.contains(table) && l.contains("shingle")), pF)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_docs")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_meta")
    }
  }

  test("minhash band index: a wave probe reads the index map-only — no " +
      "index-side exchange, no re-signing") {
    import spark.implicits._
    val table = "graft_mh_idx_test"
    try {
      // 60 corpus docs, distinct 13-word texts
      val corpus = (0 until 60).map(i => (i.toLong,
        s"alpha bravo charlie delta echo foxtrot golf hotel india " +
          s"juliet kilo lima token$i")).toDF("id", "text")
      Dedup.writeMinhashBandIndex(corpus, col("id"), col("text"), table,
        buckets = 4)
      // wave: an exact dup of corpus doc 7, a near-dup of doc 9 (one
      // word changed => jaccard 10/12 ~ 0.83), an internal dup pair,
      // and one genuinely new doc
      val wave = Seq(
        (1007L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
          "juliet kilo lima token7"),
        (1009L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
          "juliet kilo lima CHANGED"),
        (1101L, "one two three four five six seven eight nine ten eleven"),
        (1102L, "one two three four five six seven eight nine ten eleven"),
        (1200L, "completely different words nothing shared with anything else here")
      ).toDF("id", "text")
      // r16: the broadcast regime materializes the reject set eagerly
      // (localCheckpoint, so the wave/candidate caches release before
      // return — cache hygiene, r15 ADVICE). The map-only index-read
      // property therefore lives in the plan EXECUTED DURING the call:
      // capture it off the listener bus instead of the returned frame.
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = plans.add(qe.executedPlan.toString)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val cachedBefore =
        org.apache.spark.sql.graftbridge.ColumnBridge.cachedPlanCount(spark)
      val out =
        try Dedup.minhashIncrementalAgainstIndex(spark, wave,
          col("id"), col("text"), table, threshold = 0.7)
        finally {
          // the listener bus is async — poll for the reject plan (the
          // localCheckpoint execution, which reads BOTH index tables:
          // bands via the cached candidate set, docs in the
          // verification join) before unregistering
          def rejectPlan(): String = {
            val it = plans.iterator(); var found: String = null
            while (it.hasNext && found == null) {
              val p = it.next()
              if (p.contains(s"${table}_bands") && p.contains(s"${table}_docs"))
                found = p
            }
            found
          }
          val t0 = System.nanoTime()
          while (rejectPlan() == null) {
            if ((System.nanoTime() - t0) / 1e9 > 30)
              sys.error("no reject plan captured in 30 s")
            Thread.sleep(50)
          }
          spark.listenerManager.unregister(listener)
        }
      val ids = out.select("id").collect().map(_.getLong(0)).toSet
      // 1007 exact-dups corpus, 1009 near-dups corpus, 1102 dups the
      // smaller 1101; 1101 and 1200 are admitted
      assert(ids == Set(1101L, 1200L), ids)
      val captured = {
        val it = plans.iterator(); var found: String = null
        while (it.hasNext && found == null) {
          val p = it.next()
          if (p.contains(s"${table}_bands") && p.contains(s"${table}_docs"))
            found = p
        }
        found
      }
      // both index tables scan as bucketed parquet with NO Exchange in
      // their subtrees (the probes broadcast), and the corpus text is
      // never re-shingled (no xxhash64-of-shingle on an index scan)
      for (side <- Seq(s"${table}_bands", s"${table}_docs")) {
        assert(captured.contains(side), s"$side not scanned:\n$captured")
      }
      assert(!captured.contains("Exchange hashpartitioning(band"),
        s"index bands exchanged:\n$captured")
      assert(!captured.contains("Exchange hashpartitioning(id#"),
        s"index docs exchanged:\n$captured")
      assert(captured.contains("BroadcastHashJoin") ||
        captured.contains("BroadcastExchange"), captured)
      // the returned frame is the anti-join against the MATERIALIZED
      // reject set — no index subtree left in it, and no NEW cache
      // entries pinned (the hygiene this restructure buys)
      assert(org.apache.spark.sql.graftbridge.ColumnBridge.cachedPlanCount(spark)
        <= cachedBefore, "incremental wave left cached plans pinned")
      // a second wave appends with the same bucket spec and dedups
      // against BOTH generations
      Dedup.writeMinhashBandIndex(out, col("id"), col("text"), table,
        buckets = 4, append = true)
      val wave2 = Seq(
        (2101L, "one two three four five six seven eight nine ten eleven"),
        (2200L, "yet more unrelated text with its very own eleven word shape")
      ).toDF("id", "text")
      val out2 = Dedup.minhashIncrementalAgainstIndex(spark, wave2,
        col("id"), col("text"), table, threshold = 0.7)
      // 2101 dups the now-indexed 1101; 2200 admitted
      assert(out2.select("id").collect().map(_.getLong(0)).toSet == Set(2200L))
      // parameter drift is refused loudly — mismatched signing params
      // would produce band keys that silently never match
      intercept[IllegalArgumentException] {
        Dedup.minhashIncrementalAgainstIndex(spark, wave2, col("id"),
          col("text"), table, numHashes = 16, bands = 4)
      }
      intercept[IllegalArgumentException] {
        Dedup.writeMinhashBandIndex(wave2, col("id"), col("text"), table,
          shingleK = 5, buckets = 4, append = true)
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_docs")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_meta")
    }
  }

  test("image dHash pairs: banded equi-join only — no cartesian, no " +
      "all-pairs fallback") {
    // the 4×16 pigeonhole join must stay an equi-join on (band, key);
    // a resolution slip here silently degenerates to a cross join that
    // still passes correctness (the hamming filter saves it) but is
    // O(N²) at 100 TB
    val p = plan("dedup_image_dhash")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("bk_a") && p.contains("bk_b"), p)
  }

  test("image decontamination: benchmark side broadcasts, corpus never " +
      "hash-exchanges before the match") {
    val p = plan("decontaminate_image")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Cartesian") && !p.contains("SortMergeJoin"), p)
  }

  test("video dHash pairs: banded equi-join only — no cartesian, no " +
      "all-pairs fallback") {
    // same degeneration risk as the image twin: the majority-hash
    // banding must stay an equi-join on (band, key)
    val p = plan("dedup_video_dhash")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("bk_a") && p.contains("bk_b"), p)
  }

  test("audio + video decontamination: benchmark side broadcasts, " +
      "corpus never hash-exchanges before the match") {
    for (q <- Seq("decontaminate_audio", "decontaminate_video")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("Cartesian") && !p.contains("SortMergeJoin"),
        s"$q: $p")
    }
  }

  test("audio + video cluster dedup: pairs stay banded equi-joins — " +
      "no cartesian, no all-pairs fallback") {
    // the CC queries materialize clusters through the bounded
    // union-find (a driver step), so the FINAL plan no longer shows the
    // pair join — gate the pair subplans the queries feed from
    import graft.pipeline.Multimodal
    val pairPlans = Seq(
      "audio" -> Multimodal.audioEnergyHashPairs(
        Multimodal.audioEnergyHash(
          Multimodal.audioHashFixtures(spark, sf))),
      "video" -> Multimodal.videoDHashPairs(
        Multimodal.videoDHash(Multimodal.videoHashFixtures(spark, sf))))
    for ((q, df) <- pairPlans) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
        s"$q: $p")
      assert(p.contains("bk_a") && p.contains("bk_b"), s"$q: $p")
    }
  }

  test("embeddingPairs: expectedRows sizes the bucket-join exchange by " +
      "volume (cache-resident hash builds), one exchange reused by both sides") {
    // r13: at sf1000p the default 32 partitions hand each task an
    // ~800 MB hash build whose random probes leave cache — StageProbe
    // measured 10x the sf100p per-candidate cost, no spill, no skew.
    // expectedRows (known at the planesFor call sites) bounds builds
    // to ~128 MB; results must stay bit-identical.
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    // 20M rows x 4 tables x (64*4 + 8*4 + 80) B / 128 MB -> 220
    val sized = graft.pipeline.Dedup.embeddingPairs(emb, col("vec_id"),
      col("embedding"), threshold = 0.95, planes = 8, seed = 42,
      dim = 64, tables = 4, expectedRows = 20000000L)
    sized.queryExecution.toRdd.count()
    val p = sized.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(bkey"), p)
    assert(p.contains(", 220)"),
      s"expected a 220-partition bucket exchange\n$p")
    val fin = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(fin.exists(_.contains("ReusedExchange")),
      s"bucket exchange must be planned once and reused\n$p")
    val unsized = graft.pipeline.Dedup.embeddingPairs(emb, col("vec_id"),
      col("embedding"), threshold = 0.95, planes = 8, seed = 42,
      dim = 64, tables = 4)
    import spark.implicits._
    val a = sized.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val b = unsized.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(a == b, s"partition sizing changed results: ${(a diff b).take(3)} / ${(b diff a).take(3)}")
  }

  test("tree assignment (dedup_semantic_prod shape): fine side broadcasts, " +
      "no cartesian, one embeddings scan feeds the self-join via ReusedExchange") {
    // the r10 cell-tree path: the fine join must be a BHJ up to the
    // 100k-row hint bound (the probe side otherwise exchanges N·nProbe
    // vector-carrying rows), and the within-cluster self-join still
    // reuses the single assignment exchange
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val df = graft.pipeline.Similarity.semanticPairs(emb, col("vec_id"),
      col("embedding"), nCentroids = 64, threshold = 0.95,
      flatMax = 1, nProbe = 4, levels = 3)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val fin = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(fin.exists(_.contains("ReusedExchange")), p)
  }

  test("session family (grouping_by/suppress): one key exchange, " +
      "SessionOrdinal prefix scan, no session_window, no WindowExec") {
    // The r13/r14 rewrites: builtin session_window planned a useless
    // PARTIAL ObjectHashAggregate below the exchange (37x/decade at
    // sf100p, r13), and the interim lag/running-sum Window form still
    // paid WindowExec's per-group row buffering (21-33x last decade,
    // jstack-attributed — scale_matrix_r14.jsonl). The plan must stay:
    // ONE hashpartitioning exchange on the key, ONE in-partition sort,
    // a codegen'd Project carrying the stateful session_ordinal
    // expression, and the aggregate riding the exchange — NOTHING
    // aggregate-shaped below it and NO row-buffering Window operator.
    // collect_list-carrying queries still plan an ObjectHashAggregate
    // (TypedImperativeAgg — no hash-agg support exists for lists), but
    // it must sit ABOVE the exchange on the long (key, ordinal) pair.
    Tables.noScanFloor(spark) {
    for (name <- Seq("grouping_by_session", "grouping_by_context_funcs",
        "grouping_by_having", "suppress")) {
      val full = plan(name)
      // gate the FINAL plan; the echoed Initial Plan would double-count
      val fin = full.linesIterator
        .takeWhile(!_.contains("== Initial Plan ==")).toSeq
      assert(!fin.exists(l => l.contains("MergingSessions") ||
        l.contains("session_window")),
        s"$name still routes through builtin session_window:\n$full")
      assert(!fin.exists(_.contains("Window [")),
        s"$name buffers rows in a WindowExec:\n$full")
      assert(fin.exists(_.contains("session_ordinal")),
        s"$name: no SessionOrdinal prefix scan in the plan:\n$full")
      val exIdx = fin.indexWhere(_.contains("Exchange hashpartitioning"))
      assert(exIdx >= 0 &&
        !fin.exists(l => l.contains("Exchange hashpartitioning") &&
          fin.indexOf(l) != exIdx),
        s"$name: want exactly 1 hashpartitioning exchange:\n$full")
      // tree print: dataflow-later operators are EARLIER lines, so
      // "below the exchange" = line index > exIdx
      val aggBelow = fin.zipWithIndex.filter { case (l, i) =>
        i > exIdx && l.contains("Aggregate(") }
      assert(aggBelow.isEmpty,
        s"$name: aggregate below the key exchange (the r13 pathology):\n$full")
      fin.filter(_.contains("ObjectHashAggregate")).foreach { l =>
        assert(l.contains("keys=[__gkey") || l.contains("keys=[__skey"),
          s"$name: ObjectHashAggregate not on the long ordinal keys: $l")
      }
    }
    // The whole session family rides the r14 sorted-run route: the
    // planner's unconditional partial+final split combines nothing
    // above the exchange (the ordinal exists only after it) — for list
    // queries both OHA halves sort-fall-back over the already-sorted
    // stream (99.6 s at sf100p), for fixed-width ones the partial
    // HashAggregate map fills at ~60M groups (23.9 s suppress). All
    // four plan as ONE Complete-mode SortAggregate over a ClaimOrdered
    // claim of the existing (key, ordinal) order (24.7 / 15.1 s). Pin:
    // no OHA, no partial aggregate, exactly one SortAggregate, the
    // claim present, and no SortExec between the aggregate and the
    // claim (the whole point is that no new sort is inserted).
    for (name <- Seq("grouping_by_session", "grouping_by_context_funcs",
        "grouping_by_having", "suppress")) {
      val fin = plan(name).linesIterator
        .takeWhile(!_.contains("== Initial Plan ==")).toSeq
      assert(!fin.exists(_.contains("ObjectHashAggregate")),
        s"$name: ObjectHashAggregate back in the sorted-run plan:\n${fin.mkString("\n")}")
      assert(!fin.exists(_.contains("partial_")),
        s"$name: partial aggregate reappeared:\n${fin.mkString("\n")}")
      assert(fin.count(_.contains("SortAggregate(")) == 1,
        s"$name: want exactly one Complete SortAggregate:\n${fin.mkString("\n")}")
      val aggIdx = fin.indexWhere(_.contains("SortAggregate("))
      val claimIdx = fin.indexWhere(_.contains("ClaimOrdered"))
      assert(claimIdx > aggIdx,
        s"$name: no ClaimOrdered under the aggregate:\n${fin.mkString("\n")}")
      assert(!fin.slice(aggIdx, claimIdx).exists(_.contains("Sort ")),
        s"$name: a sort crept in between aggregate and claim:\n${fin.mkString("\n")}")
    }
    }
  }

  test("pack queries: every window is explicitly partitioned and runs " +
      "above an aggregate, never over the corpus") {
    // r14 verdict #6: the packShards/packSequences prefix windows are
    // bounded by construction (one row per 2^20-doc bucket) but used an
    // EMPTY partition spec, spamming WindowExec's all-data-to-one-
    // partition warning. Now partitionBy(lit(0)): same plan, bound
    // stated. Pin both properties: (a) no windowspecdefinition whose
    // FIRST argument is an ordering (= empty partition spec), (b) each
    // Window sits above an Aggregate (the tiny side table), not the
    // scan.
    for (name <- Seq("shard_pack", "text_pack_sequences", "text_pack_bpe")) {
      val fin = plan(name).linesIterator
        .takeWhile(!_.contains("== Initial Plan ==")).toSeq
      val specs = fin.filter(_.contains("windowspecdefinition("))
      assert(specs.nonEmpty, s"$name: expected windows in the plan")
      specs.foreach { l =>
        val firstArg = l.substring(l.indexOf("windowspecdefinition(") + 21)
          .takeWhile(_ != ',')
        assert(!firstArg.contains(" ASC") && !firstArg.contains(" DESC"),
          s"$name: window with EMPTY partition spec: $l")
      }
    }
  }

  test("sorted-run route survives a having clause the optimizer pushes " +
      "below the aggregate (Filter between Aggregate and ClaimOrdered)") {
    // ADVICE r14: PushPredicateThroughNonJoin pushes a deterministic
    // predicate referencing only grouping keys below the Aggregate,
    // landing a Filter above ClaimOrdered — claimed() must recurse
    // through it or the query silently falls back to the partial+final
    // ObjectHashAggregate route (~4x on list queries).
    import spark.implicits._
    import graft.operators.Sessions
    val in = (1 to 200).map(i => ("key-" + i % 7,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 40L)),
      i.toLong)).toDF("k", "t", "id")
    val df = Sessions.groupingBy(in, col("k"), col("t"), 120,
      Seq(count(lit(1)).as("n"),
        Sessions.sortedValues(col("id"), col("id")).as("ids")),
      // references ONLY the grouping key → pushed below the Aggregate
      having = col("key") =!= "key-3")
    df.queryExecution.toRdd.count()
    val fin = df.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    assert(fin.count(_.contains("SortAggregate(")) == 1,
      s"having pushdown lost the sorted-run route:\n${fin.mkString("\n")}")
    assert(!fin.exists(_.contains("ObjectHashAggregate")),
      s"fell back to ObjectHashAggregate:\n${fin.mkString("\n")}")
    val aggIdx = fin.indexWhere(_.contains("SortAggregate("))
    val claimIdx = fin.indexWhere(_.contains("ClaimOrdered"))
    assert(claimIdx > aggIdx, s"no claim under the aggregate:\n${fin.mkString("\n")}")
    // and the pushed Filter really is in between (the scenario tested)
    assert(fin.slice(aggIdx, claimIdx).exists(_.contains("Filter")),
      s"expected the having Filter between aggregate and claim:\n${fin.mkString("\n")}")
  }

  test("skew-split session plan: one (key,split) exchange reused by the " +
      "stitch branch, main branch on the Complete sorted-run aggregate, " +
      "stitch aggregate only above boundary-sized input") {
    import spark.implicits._
    import graft.operators.Sessions
    val rnd = new scala.util.Random(42)
    val in = (1 to 4000).map { i =>
      val k = if (rnd.nextBoolean()) "hot" else "key-" + rnd.nextInt(30)
      (k, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(rnd.nextInt(3000).toLong)), i.toLong)
    }.toDF("k", "t", "id")
    val df = Sessions.groupingBy(in, col("k"), col("t"), 60,
      Seq(count(lit(1)).as("n"),
        Sessions.sortedValues(col("id"), struct(col("t"), col("id"))).as("ids")),
      splitHotKeysOver = 300L)
    df.queryExecution.toRdd.count()
    val fin = df.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    // main branch: exactly one Complete SortAggregate riding the
    // 3-column claim, no sort inserted between them
    assert(fin.count(_.contains("SortAggregate(")) == 1, fin.mkString("\n"))
    val aggIdx = fin.indexWhere(_.contains("SortAggregate("))
    val claimIdx = fin.indexWhere(_.contains("ClaimOrdered"))
    assert(claimIdx > aggIdx && fin(claimIdx).contains("__split") &&
      fin(claimIdx).contains("__ord"), fin.mkString("\n"))
    assert(!fin.slice(aggIdx, claimIdx).exists(_.contains("Sort ")),
      s"sort crept in between aggregate and claim:\n${fin.mkString("\n")}")
    // the data-sized (key, split) repartition exchange is WRITTEN once:
    // every other branch reads it as ReusedExchange
    val keySplitEx = fin.filter(l =>
      l.contains("Exchange hashpartitioning(__gkey") &&
        l.contains("__split") && !l.contains("ReusedExchange"))
    // EXACTLY two: the shared full-width exchange (main + stitch read
    // it via ReusedExchange) and the pruned summary-path exchange (the
    // two flags pipelines share it). The r15 StageProbe caught a third:
    // per-branch pruning divergence broke canonical equality and the
    // data-sized exchange was written twice — the explicit shared
    // projection in skewSessionAgg pins it back to one.
    assert(keySplitEx.size == 2,
      s"(key,split) exchange written ${keySplitEx.size}x (want 2):\n${fin.mkString("\n")}")
    assert(fin.exists(_.contains("ReusedExchange")), fin.mkString("\n"))
    // no session_window / WindowExec over DATA-sized input: the only
    // Window operators run over the per-(hot key, split) summary frame
    assert(!fin.exists(l => l.contains("session_window") ||
      l.contains("MergingSessions")), fin.mkString("\n"))
    // stitch branch exists and exchanges on (key, gsid) — boundary-sized
    assert(fin.exists(_.contains("Exchange hashpartitioning(__gkey") &&
      fin.exists(_.contains("__gsid"))), fin.mkString("\n"))
  }

  test("session skew protection default-on: zero-hot data takes the EXACT " +
      "unsplit sorted-run plan (one key exchange, no split machinery)") {
    // r16: splitHotKeysOver defaults to the production budget (200k) for
    // every declared session query. This pins the healthy-data regime:
    // when no key exceeds the budget, the fast path must return the same
    // single-key-exchange Complete sorted-run plan the unsplit route
    // builds — the only cost of the default is the one detection pass.
    import spark.implicits._
    import graft.operators.Sessions
    val in = (1 to 2000).map { i =>
      ("key-" + (i % 40), java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond((i * 7 % 3000).toLong)), i.toLong)
    }.toDF("k", "t", "id")
    def shape(split: Long): Seq[String] = {
      val df = Sessions.groupingBy(in, col("k"), col("t"), 60,
        Seq(count(lit(1)).as("n")), splitHotKeysOver = split)
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.toString.linesIterator
        .takeWhile(!_.contains("== Initial Plan ==")).toSeq
    }
    val fast = shape(200000L)
    // exact unsplit shape: one Complete SortAggregate over the claim,
    // one data exchange on the bare key, zero split/stitch artifacts
    assert(fast.count(_.contains("SortAggregate(")) == 1, fast.mkString("\n"))
    assert(fast.exists(_.contains("ClaimOrdered")), fast.mkString("\n"))
    val dataEx = fast.filter(l => l.contains("Exchange hashpartitioning") &&
      !l.contains("ReusedExchange"))
    assert(dataEx.size == 1 && dataEx.head.contains("__gkey") &&
      !dataEx.head.contains("__split"), fast.mkString("\n"))
    assert(!fast.exists(l => l.contains("__split") || l.contains("__gsid") ||
      l.contains("__hkey")), fast.mkString("\n"))
  }
}
