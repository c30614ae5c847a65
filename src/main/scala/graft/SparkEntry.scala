package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num.roundz

import graft.functions.TextStats
import graft.operators.{AnnIndex, Behavior, Bpe, Dedup, Embeddings, Graph, Multimodal, Profile, Ranks, RelOps, Similarity, Sketches, Stats, Temporal, TextIndex, Training, Transpose}
import graft.pipelines.Pipelines
import graft.sources.Catalog
import graft.streaming.{EventsStream, ServeStream}

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` where
  * SQL-expressible) per implemented operator from SURVEY.md §2 and per
  * LLM-pipeline extension operator.
  *
  * Determinism rules: every query ends in a total `orderBy` and every
  * floating aggregate is `round`ed identically on both sides, so the
  * driver's row/schema/hash compare is stable regardless of partition
  * scheduling. (Benchmarks use their own unordered variants — see Bench.)
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** The documents table's exact-verified near-dup pair truth (threshold
    * 0.9), served from a stored pair table ([[Dedup.writePairTable]])
    * built at most once per JVM: four declared analyses consume the SAME
    * pair set (x2 pairs, x126 contagion, x136 cross-source matrix, x142
    * triangle census), and the production posture at 100 TB is to price
    * the LSH+verify pipeline in once at ingest and let every analysis
    * read the table. Results are row-identical to the self-contained
    * operators — the store IS `minhashPairs`' output (x2's oracle pins
    * it against the exact O(n²) truth).
    */
  /** /tmp store-path tag for a testdata root: the readable scale digits
    * PLUS an 8-hex digest of the FULL path. Digits alone collided — two
    * different roots containing the same digits (any two `.../sf0.1`
    * trees) mapped to one store path, and the second silently read the
    * first's data; the digest makes distinct roots map to distinct
    * stores while keeping the tag short and filename-safe.
    */
  private[graft] def storeTag(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
    val hex = md.take(4).map(b => f"$b%02x").mkString
    s"${dir.replaceAll("[^0-9.]", "")}_$hex"
  }

  private val pairStoreBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** The shared near-dup pair truth every pair consumer reads
    * (x2/x41/x61/x81/x82/x91/x126/x128/x136/x142) — built once per
    * testdata root ON THE ATOMIC BUNDLE STORE
    * ([[graft.operators.Dedup.writePairBundle]]), so the recommended
    * transactional path is also the one all internal code exercises.
    * A committed bundle from an earlier process is reused verbatim:
    * the content is a pure seeded function of the corpus, and the
    * manifest-committed version is by construction complete. One whose
    * manifest records no member schemas (written before manifests did)
    * is unreadable, so a new version is committed over it.
    */
  private def pairTruth(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft/pairs_${storeTag(dir)}"
    pairStoreBuilt.computeIfAbsent(root, _ => {
      val reusable = Catalog.latestBundleVersion(s, root, "truth").exists { v =>
        val m = Catalog.bundleManifest(s, root, "truth", Some(v))
        m.dirs.keySet.subsetOf(m.schemas.keySet)
      }
      if (!reusable)
        Dedup.writePairBundle(t(s, dir, "documents"), root, "truth",
          "doc_id", "text", threshold = 0.9)
      root
    })
    Catalog.readBundleTable(s, root, "truth", "pairs")
  }

  /** Aggregate ANN recall check against exact brute-force truth (both
    * sides exclude self-matches), as a SQL-verifiable property: the
    * oracle re-derives the query count and full-length result total, and
    * asserts `recall_ok` literally TRUE — so a recall regression, a
    * starved bucket (short result list), or a lost query each flips the
    * hash. Aggregate (not per-query) because per-query overlap at k=5 is
    * legitimately noisy for approximate methods; the corpus-level recall
    * is deterministic (seeded planes/centroids) and is what the method
    * contracts. `minRecall` floors hits / |brute results|.
    */
  private def annRecallCheck(ann0: DataFrame, brute0: DataFrame,
      minRecall: Double): DataFrame = {
    // both result lists are referenced twice below (overlap + totals);
    // persisting the tiny (|q|×k-row) frames keeps the full ANN and brute
    // pipelines from executing twice per reference
    val ann = ann0.persist()
    val brute = brute0.persist()
    val hitsN = ann.select(col("qid"), col("nid"))
      .join(brute.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_semi")
      .agg(count(lit(1)).as("__h"))
    val bruteN = brute.agg(count(lit(1)).as("__b"))
    ann.agg(countDistinct(col("qid")).as("n_queries"), count(lit(1)).as("n_results"))
      .crossJoin(hitsN).crossJoin(bruteN)
      .select(col("n_queries"), col("n_results"),
        (col("__h") >= col("__b") * minRecall).as("recall_ok"))
  }

  // ---- headline pricing-summary agg (A1/A2/A8: partial+final hash agg) ----
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        roundz(sum(col("l_quantity")), 2).as("sum_qty"),
        roundz(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        roundz(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        roundz(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => q1Agg(s, dir)),

    // Headline multi-join analytic (TPC-H Q3 shape): selective dim filter →
    // two key joins → grouped agg + top-N. The shape a 100 TB plan must get
    // right: segment filter pushed into the customer scan, orders⋈lineitem
    // shuffle join on the key, partial aggs before the final exchange.
    "q3_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord  = t(s, dir, "orders")
      val li   = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(roundz(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Skew-resistant salted join: same result as the plain join, hot keys
    // spread over salt buckets (RelOps.saltedJoin).
    "j1_salted_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      RelOps.saltedJoin(
        sup.withColumnRenamed("s_nationkey", "n_nationkey"), nat, Seq("n_nationkey"),
        buckets = 8)
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy(col("s_suppkey"))
    }),

    // S1: CSV source round-trip (header + declared schema; reference
    // `csv_to_bq.py:41-42`). Writes the dimension out as CSV and reads it
    // back, proving parse fidelity against the parquet oracle.
    "s1_csv_roundtrip" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val p = s"/tmp/graft/s1_csv_${storeTag(dir)}"
      Catalog.writeCsv(nation, p)
      Catalog.csv(s, p, nation.schema).orderBy(col("n_nationkey"))
    }),

    // S4/S5: all-strings CSV read (header-only inference; values stay
    // strings end-to-end, reference `read_csv_no_pandas.py:18-24`).
    "s4_csv_allstrings" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val p = s"/tmp/graft/s4_csv_${storeTag(dir)}"
      Catalog.writeCsv(nation, p)
      Catalog.csvAllStrings(s, p).orderBy(col("n_name"))
    }),

    // Beyond-reference source format: ORC round-trip (Spark-core native
    // reader — same pushdown/pruning contract as parquet). Types survive
    // the container, so the oracle is the parquet table itself.
    "s8_orc_roundtrip" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val p = s"/tmp/graft/s8_orc_${storeTag(dir)}"
      Catalog.writeOrc(nation, p)
      Catalog.orc(s, p).orderBy(col("n_nationkey"))
    }),

    // The first-order 100 TB scan saver: a Hive date-partitioned events
    // table (writePartitioned) + a partition-pruned scan. The date filter
    // is satisfied at FILE LISTING — the plan carries it as
    // PartitionFilters (pinned in PlanSpec), so 23 of 30 day-directories
    // are never opened, let alone decoded. On a real deployment this is
    // the difference between scanning 100 TB and scanning the week you
    // asked for.
    "s9_partitioned_prune" -> ((s, dir) => {
      val sfTag = storeTag(dir)
      val ev = Catalog.events(s, dir).withColumn("event_date", to_date(col("ts")))
      Catalog.writePartitioned(ev, "/tmp/graft", s"s9_part_$sfTag", Seq("event_date"))
      Catalog.table(s, "/tmp/graft", s"s9_part_$sfTag")
        .where(col("event_date").between("2024-01-08", "2024-01-14"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), roundz(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_date"), col("event_type"))
    }),

    // The SECOND-order 100 TB scan saver (s9's partner): orders and
    // lineitem both bucketed 8 ways on the order key, so the recurring
    // fact-to-fact join reads co-located buckets directly — ZERO shuffle
    // exchanges in the executed SortMergeJoin (pinned in PlanSpec). At
    // 100 TB this is the difference between re-shuffling both fact tables
    // on every recurring join and paying the partitioning once at write.
    "s10_bucketed_join" -> ((s, dir) => {
      val sfTag = storeTag(dir).replace(".", "_")
      val ot = s"s10_ord_$sfTag"
      val lt = s"s10_li_$sfTag"
      Catalog.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey").as("okey"), col("o_totalprice")),
        ot, Seq("okey"), buckets = 8, path = Some(s"/tmp/graft/$ot"))
      Catalog.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
          col("l_quantity"), col("l_extendedprice")),
        lt, Seq("okey"), buckets = 8, path = Some(s"/tmp/graft/$lt"))
      s.table(ot).join(s.table(lt), Seq("okey"))
        .groupBy(pmod(col("okey"), lit(10L)).as("okey_mod"))
        .agg(count(lit(1)).as("n_lines"),
          roundz(sum(col("l_quantity")), 2).as("sum_qty"),
          roundz(sum(col("o_totalprice")), 2).as("sum_order_price"))
        .orderBy(col("okey_mod"))
    }),

    // THIRD storage-layout saver (s9 prunes partitions, s10 pre-shuffles
    // joins): Z-ORDER clustering localizes file min/max stats on TWO
    // filter columns at once, so a predicate box on either or both
    // row-group-prunes the scan — lexicographic sort only ever serves its
    // leading column. The query result is layout-independent (the oracle
    // scans the flat table); the narrow-span-on-both-dims property is
    // pinned in CatalogSpec.
    "s11_zorder_scan" -> ((s, dir) => {
      val sfTag = storeTag(dir).replace(".", "_")
      val ref = s"s11_zorder_$sfTag"
      Catalog.writeZOrdered(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        "/tmp/graft", ref, Seq("o_custkey", "o_totalprice"), nFiles = 16)
      Catalog.table(s, "/tmp/graft", ref)
        .where(col("o_custkey").between(100, 500) &&
          col("o_totalprice").between(50000, 150000))
        .orderBy(col("o_orderkey"))
    }),

    // S3: in-memory literal source (`beam.Create`), fixture F1.
    "s3_literal_rows" -> ((s, _) => {
      import s.implicits._
      Seq((123L, "AAA", 101.44), (123L, "BBB", 345.44), (1234L, "AAA", 458.44))
        .toDF("ID", "CLASS", "SALES")
        .orderBy(col("ID"), col("CLASS"))
    }),

    // P2: name-binding projection/rename.
    "p2_projection" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey").as("cust_id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
        .orderBy(col("cust_id"))),

    // P4: timestamp arithmetic — per-line shipping delay in seconds.
    "p4_duration" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o  = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (unix_timestamp(col("l_shipdate")) - unix_timestamp(col("o_orderdate")))
            .as("ship_delay_sec"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P5: row → CSV string (`",".join`, `pipeline.py:63`).
    "p5_csv_format" -> ((s, dir) =>
      RelOps.toCsvLine(t(s, dir, "region"), Seq("r_regionkey", "r_name"))
        .orderBy(col("line"))),

    // P8: case-insensitive equality filter (`Flask_app/main.py:25-29`).
    "p8_ci_filter" -> ((s, dir) =>
      RelOps.ciEquals(t(s, dir, "customer"), "c_mktsegment", "BuIlDiNg")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    // P9: point lookup with miss-defaults (`Fast_API/main.py:25-36`).
    "p9_point_lookup" -> ((s, dir) => {
      import s.implicits._
      val dim = t(s, dir, "nation")
        .select(lower(col("n_name")).as("qname"), col("n_name"),
          col("n_nationkey"), col("n_regionkey"))
      val keys = Seq("nation_3", "nation_12", "nowhere").toDF("qname")
      RelOps.pointLookup(keys, dim, "qname",
        Map("n_name" -> lit("Not found"), "n_nationkey" -> lit(-1), "n_regionkey" -> lit(-1)))
        .orderBy(col("qname"))
    }),

    // P10: arithmetic map (`AddTen` draft).
    "p10_arith_map" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), roundz(col("p_retailprice") + 10, 2).as("adj_price"))
        .orderBy(col("p_partkey"))),

    // P11: square map over a generated range (`data_transpose.ipynb` cell 3).
    "p11_square_map" -> ((s, _) =>
      s.range(1000)
        .select(col("id"), (col("id") * col("id")).as("squared"))
        .orderBy(col("id"))),

    // J1: broadcast hash lookup join (side-input dict join, `pipeline.py:54-61`).
    "j1_broadcast_lookup" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      RelOps.broadcastLookup(
        sup.withColumnRenamed("s_nationkey", "n_nationkey"), nat, Seq("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy(col("s_suppkey"))
    }),

    // J2 + A1: NYC pipeline shape — count per key, left-enrich with dim.
    "j2_count_enrich" -> ((s, dir) => {
      val counts = RelOps.countPerKey(
        t(s, dir, "customer").withColumnRenamed("c_nationkey", "n_nationkey"),
        Seq("n_nationkey"), as = "count_listings")
      RelOps.enrich(counts, t(s, dir, "nation"), Seq("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"), col("count_listings"))
        .orderBy(col("n_nationkey"))
    }),

    // A2: mean per key.
    "a2_mean_per_key" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(roundz(avg(col("c_acctbal")), 4).as("avg_acctbal"))
        .orderBy(col("c_mktsegment"))),

    // A3: group-by collect to list (GroupByKey; sorted for determinism).
    "a3_collect_per_key" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(array_join(sort_array(collect_list(col("c_mktsegment"))), ",").as("segments"))
        .orderBy(col("c_nationkey"))),

    // A4: within-group sorted distinct (UniqueList).
    "a4_distinct_per_key" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      RelOps.distinctPerKey(
        nat.withColumnRenamed("n_regionkey", "r_regionkey")
          .join(broadcast(reg), Seq("r_regionkey")),
        Seq("r_name"), "n_name", as = "nations_arr")
        .select(col("r_name"), array_join(col("nations_arr"), ",").as("nations"))
        .orderBy(col("r_name"))
    }),

    // A5: global collect-to-list (schema-branch style; tiny by construction).
    "a5_global_collect" -> ((s, dir) =>
      t(s, dir, "orders")
        .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), "|").as("priorities"))),

    // A6: dynamic transpose (flagship) — single key, single value.
    "a6_transpose" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(roundz(sum(col("l_quantity")), 2).as("sum_qty"))
      Transpose(base, Seq("l_returnflag"), "l_linestatus", Seq("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // A6 multi-value: `{pivotValue}_{valueField}` naming across 2 value cols.
    "a6_transpose_multi" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          roundz(sum(col("l_quantity")), 2).as("sum_qty"),
          roundz(sum(col("l_extendedprice")), 2).as("sum_price"))
      Transpose(base, Seq("l_returnflag"), "l_linestatus", Seq("sum_qty", "sum_price"))
        .orderBy(col("l_returnflag"))
    }),

    // A6 multi-key: composite key tuple (real tuple, not the reference's
    // accidental string-concat key — SURVEY §2.9(f)).
    "a6_transpose_multikey" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linenumber"), col("l_linestatus"))
        .agg(roundz(sum(col("l_quantity")), 2).as("sum_qty"))
      Transpose(base, Seq("l_returnflag", "l_linenumber"), "l_linestatus", Seq("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linenumber"))
    }),

    // A7: distinct.
    "a7_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // U1: union of branches (Flatten).
    "u1_union" -> ((s, dir) => {
      val r = t(s, dir, "region").select(col("r_name").as("name"), lit("region").as("src"))
      val n = t(s, dir, "nation").select(col("n_name").as("name"), lit("nation").as("src"))
      RelOps.union(Seq(r, n)).orderBy(col("src"), col("name"))
    }),

    // §3.3 serving lookup, Flask semantics: case-insensitive hit; miss →
    // echoed name + zeros (`Flask_app/main.py:21-29`, SURVEY §2.9(h)).
    "lookup_flask" -> ((s, dir) => {
      val dim = t(s, dir, "nation")
        .select(col("n_name"), col("n_nationkey"), col("n_regionkey"))
      Pipelines.Lookup.flask(dim, "nAtIoN_7")
        .unionByName(Pipelines.Lookup.flask(dim, "Atlantis"))
        .orderBy(col("n_name"))
    }),

    // K2: append sink round-trip — two appends → doubled rows.
    "k2_append_roundtrip" -> ((s, dir) => {
      val reg = t(s, dir, "region")
      val p = s"/tmp/graft/k2_parquet_${storeTag(dir)}"
      deleteRecursively(new java.io.File(p))
      reg.write.mode("append").parquet(p)
      reg.write.mode("append").parquet(p)
      s.read.parquet(p).orderBy(col("r_regionkey"))
    }),

    // K3: overwrite sink round-trip.
    "k3_overwrite_roundtrip" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val p = s"/tmp/graft/k3_parquet_${storeTag(dir)}"
      sup.write.mode("overwrite").parquet(p)
      s.read.parquet(p).orderBy(col("s_suppkey"))
    }),

    // §3.1 pipeline shape on testdata: session duration per user →
    // broadcast-join a dimension → mean per group (weblog-by-country analog).
    "pipeline_weblog" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
      val nat = t(s, dir, "nation")
      val durations = ev.groupBy(col("user_id"))
        .agg((unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .cast("double").as("duration"))
        .withColumn("n_nationkey", (col("user_id") % 25).cast("int"))
      RelOps.broadcastLookup(durations, nat, Seq("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(roundz(avg(col("duration")), 2).as("time_duration"))
        .orderBy(col("n_name"))
    }),

    // ---- LLM-data-pipeline extension operators (SURVEY §7.5) ----

    // Exact dedup: content-hash groupBy.
    "x1_dedup_exact" -> ((s, dir) =>
      Dedup.exactSummary(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))),

    // MinHash+LSH near-dup: banded candidates verified with exact 3-gram
    // Jaccard — the oracle recomputes the full O(n²) truth in DuckDB, so
    // this checks LSH recall end-to-end against the planted near-dup
    // pairs. Served from the shared stored pair table (built here or by
    // whichever pair consumer ran first — same rows either way).
    "x2_dedup_minhash" -> ((s, dir) =>
      pairTruth(s, dir).orderBy(col("a"), col("b"))),

    // SimHash near-dup recall as a SQL-verifiable property: the simhash
    // hashes themselves aren't DuckDB-expressible (xxhash64), but the
    // truth side is — the oracle recomputes every pair with exact 3-gram
    // Jaccard ≥ 0.95 (x2-style O(n²)), checking id/jaccard math row by
    // row, and asserts the corpus-level simhash recall flag TRUE. SimHash
    // measures hamming distance, not Jaccard, so per-pair capture is
    // legitimately partial (observed 0.583 at hamming ≤ 3, deterministic);
    // floor 0.4. Pair-level output/determinism stays pinned by DedupSpec.
    "x3_dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.95)
        .select(col("a"), col("b"), col("jaccard"))
      val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
        .select(col("a"), col("b"), lit(true).as("__f"))
      // cached: the pair frame feeds both the recall aggregate and the
      // row output — without it the jaccard-truth and simhash pipelines
      // would each execute twice
      val marked = truth.join(sim, Seq("a", "b"), "left")
        .withColumn("__found", coalesce(col("__f"), lit(false)))
      Lifecycle.withCachedInputs(marked) {
        val rec = marked.agg(
          (sum(when(col("__found"), 1).otherwise(0)) >= count(lit(1)) * 0.4)
            .as("simhash_recall_ok"))
        marked.crossJoin(broadcast(rec))
          .select(col("a"), col("b"), col("jaccard"), col("simhash_recall_ok"))
          .orderBy(col("a"), col("b"))
      }
    }),

    // Token counting: whitespace + BPE-ish regex tokens + char count.
    "x4_text_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.regexTokenCount(col("text")).as("n_regex_tokens"),
        TextStats.charCount(col("text")).as("n_chars_q"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring (length / word-length / punct / stopword components).
    // Staged variant: tokenizes each document once, not once per score term
    // (interpreted higher-order filter gets no CSE — see withQualityScore).
    "x5_text_quality" -> ((s, dir) =>
      TextStats.withQualityScore(t(s, dir, "documents"), "text", as = "quality")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))),

    // Language-ID heuristic (stopword hits per language; max score wins,
    // ties by language code ascending, zero hits → "und") — fully mirrored
    // in the DuckDB oracle; fixtures additionally pinned by TextStatsSpec.
    "x6_text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextStats.tokens(lower(col("text"))).as("__toks"))
        .select(col("doc_id"), col("lang"),
          TextStats.langIdFromTokens(col("__toks")).as("lang_guess"))
        .orderBy(col("doc_id"))),

    // Fingerprinting: xxhash64 of normalized text. Oracle checks the
    // dedup-key property (|distinct fingerprints| = |distinct normalized
    // texts|) rather than the hash values themselves.
    "x7_text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        countDistinct(TextStats.fingerprint(col("text"))).as("n_fp"),
        countDistinct(TextStats.normalize(col("text"))).as("n_norm"))),

    // Vocabulary top-k: explode tokens → count → top 50. The partial
    // aggregation absorbs the explode fan-out map-side; ties broken by
    // token for a total deterministic order.
    "x16_vocab_topk" -> ((s, dir) =>
      graft.functions.Staging.explodeStaged(t(s, dir, "documents"), Seq(),
          TextStats.tokens(lower(col("text"))), as = "token")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),

    // Document-length histogram: token count bucketed by tens — the
    // one-pass shape of a corpus length-distribution report.
    "x17_doclen_hist" -> ((s, dir) =>
      t(s, dir, "documents")
        .select((floor(TextStats.tokenCount(col("text")) / 10) * 10).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket"))),

    // Explicit n-gram Jaccard similarity. This bounded slice (200 docs) is
    // latency-bound, so the right plan is one broadcast cross join over
    // HASHED shingle arrays (long compares, not string sets) — while the
    // unbounded corpus path is `Dedup.jaccardPairs`' posting-list join
    // (its ~8 shuffle stages only pay off when all-pairs is infeasible).
    "x13_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents").where(col("doc_id") < 200)
      val sh = Dedup.shingled(d, "doc_id", "text", 3)
        .select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("sh"))
        .select(col("doc_id"), col("sh"), size(col("sh")).as("sz"))
      val a = sh.select(col("doc_id").as("a"), col("sh").as("sh_a"), col("sz").as("sza"))
      val b = sh.select(col("doc_id").as("b"), col("sh").as("sh_b"), col("sz").as("szb"))
      a.crossJoin(broadcast(b)).where(col("a") < col("b"))
        .select(col("a"), col("b"), size(array_intersect(col("sh_a"), col("sh_b"))).as("common"),
          col("sza"), col("szb"))
        .select(col("a"), col("b"),
          roundz(col("common").cast("double") /
            (col("sza") + col("szb") - col("common")), 4).as("jaccard"))
        .where(col("jaccard") >= 0.3)
        .orderBy(col("a"), col("b"))
    }),

    // Brute-force cosine top-k (exact ANN baseline).
    "x8_knn_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceKnn(e, e.where(col("vec_id") < 8), k = 5)
        .select(col("qid"), col("nid"), roundz(col("sim"), 4).as("sim"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // LSH-bucketed approximate top-k (the scale path), checked as a
    // SQL-verifiable property: corpus-level overlap of the LSH top-5 with
    // the EXACT brute-force top-5 (computed in the same plan) must clear
    // a floor, and result lists must be full-length. Observed non-self
    // recall at these parameters: 0.225 (deterministic, seeded planes);
    // floor 0.15. Raw neighbor lists stay pinned by SimilaritySpec.
    "x9_knn_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      annRecallCheck(
        Similarity.lshKnn(e, q, k = 5, numPlanes = 4),
        Similarity.bruteForceKnn(e, q, k = 5), minRecall = 0.15)
    }),

    // IVF approximate top-k (inverted-file ANN; deterministic sampled
    // centroids), checked as corpus-level recall-vs-brute within the plan
    // — same property shape as x9. Observed 0.50; floor 0.35.
    "x14_knn_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      annRecallCheck(
        Similarity.ivfKnn(e, q, k = 5, nCentroids = 16, nProbe = 4),
        Similarity.bruteForceKnn(e, q, k = 5), minRecall = 0.35)
    }),

    // IVF with a TRAINED coarse quantizer: 3 spherical k-means rounds
    // refine the sampled centroids, so cells follow the corpus's direction
    // clusters (higher recall at the same nProbe). Checked as corpus-level
    // recall-vs-brute within the plan — same property shape as x9.
    // Observed 0.50; floor 0.35.
    "x59_knn_ivf_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      annRecallCheck(
        Similarity.ivfKnn(e, q, k = 5, nCentroids = 16, nProbe = 4, trainIters = 3),
        Similarity.bruteForceKnn(e, q, k = 5), minRecall = 0.35)
    }),

    // Embedding-cosine near-dup pairs via LSH buckets. The corpus has no
    // pairs above 0.9 (max 0.51), so duplicates are injected (vec_id+100000
    // copies of vec_id<20) — output must be exactly those 20 pairs at 1.0.
    "x10_cosine_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val injected = e.unionByName(
        e.where(col("vec_id") < 20)
          .withColumn("vec_id", col("vec_id") + 100000L))
      Similarity.cosineNearDupPairs(injected, threshold = 0.9)
        .orderBy(col("a"), col("b"))
    }),

    // Multimodal plumbing: binary assets (payload = doc text bytes) through
    // the partition-parallel feature-extraction stub. Oracle checks the
    // metadata/shape contract (kind routing, byte counts, feature width).
    "x11_multimodal_features" -> ((s, dir) => {
      val assets = Multimodal.assetsFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractFeatures(assets, dims = 64).toDF()
        .select(col("asset_id"), col("kind"), col("n_bytes"),
          size(col("features")).as("n_features"))
        .orderBy(col("asset_id"))
    }),

    // REAL audio decode through pure-JDK javax.sound.sampled: synthesized
    // RIFF/WAV PCM16 payloads (500 Hz seeded-amplitude sine — no audio in
    // the testdata) decoded back to measured facts. Everything the oracle
    // checks is exact: sample rate and count come from the decoder and
    // must equal the synthesis arithmetic; rms_ok asserts the measured
    // RMS sits within int16-quantization distance of the analytic amp/√2
    // (8 samples/cycle ⇒ mean square is exactly 1/2) against the oracle's
    // literal TRUE — a decoder, container, or channel-fold regression
    // flips a column.
    "x83_audio_decode" -> ((s, dir) => {
      val audio = Multimodal.audioAssetsFromDocuments(s, t(s, dir, "documents"))
      Multimodal.decodeAudioInfo(audio).toDF()
        .select(col("asset_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms_decoded"),
          (col("decoded") &&
            abs(col("rms") - (pmod(col("asset_id"), lit(50)) / lit(100.0) + lit(0.25))
              / lit(math.sqrt(2.0))) < lit(1e-3)).as("rms_ok"))
        .orderBy(col("asset_id"))
    }),

    // REAL video frame decode through the pure-JDK MJPEG-in-AVI path:
    // synthesized RIFF/AVI containers (2 fps, seeded solid-gray JPEG
    // frames — no video in the testdata) are container-parsed, seeked at
    // 1 frame/second, and each sampled frame's pixels are measured.
    // Row count is the sampling arithmetic as before, but `decoded` and
    // `luma_ok` must now be EARNED from real decoded frames: luma_ok
    // asserts the measured mean luma sits within JPEG-DC-quantization
    // distance of frameGray(asset, 2·frame_idx)/255 — a container-walk,
    // frame-seek (2 fps ⇒ source frame 2i), or JPEG-decode regression
    // each flips the column against the oracle's literal TRUE.
    "x15_multimodal_frames" -> ((s, dir) => {
      val vids = Multimodal.videoAssetsFromDocuments(s, t(s, dir, "documents"))
      val expectedLuma =
        (pmod(col("asset_id") * 31 + col("frame_idx") * 14, lit(200)) + lit(28)) / lit(255.0)
      Multimodal.frameStats(Multimodal.sampleFrames(vids, everyMs = 1000L)).toDF()
        .select(col("asset_id"), col("frame_idx"), col("decoded"),
          (col("decoded") && abs(col("mean_luma") - expectedLuma) < lit(0.02)).as("luma_ok"))
        .orderBy(col("asset_id"), col("frame_idx"))
    }),

    // Streaming counterpart (batch run of the same transform; the streaming
    // execution with watermark is exercised in StreamingSpec).
    "x12_events_hourly" -> ((s, dir) =>
      EventsStream.hourlyCounts(Catalog.events(s, dir))
        .select(col("hour"), col("event_type"), col("n"),
          roundz(col("total_value"), 2).as("total_value"))
        .orderBy(col("hour"), col("event_type"))),

    // Event-time sessionization (30-min inactivity gap) via the native
    // session_window operator — same definition runs streaming (see
    // EventsStream/StreamingSpec). Oracle reconstructs sessions with the
    // classic lag + cumulative-sum window recipe.
    "x18_sessionize" -> ((s, dir) =>
      EventsStream.sessionize(Catalog.events(s, dir), gapSec = 1800)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), roundz(col("total_value"), 2).as("total_value"),
          col("duration_sec"))
        .orderBy(col("user_id"), col("session_start"))),

    // Exact distribution summary via the adaptive percentile operator: a
    // global `percentile` aggregate buffers every value in ONE task — a
    // guaranteed OOM at 100 TB — so above a memory-safe count threshold
    // Stats switches to the distributed range-partition + per-partition-rank
    // plan. DuckDB quantile_cont shares the interpolation definition.
    "x20_stats_summary" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      Stats.percentiles(ord, "o_totalprice", Seq(0.5, 0.95, 0.99),
          Seq("p50", "p95", "p99"))
        .select(roundz(col("p50"), 2).as("p50"), roundz(col("p95"), 2).as("p95"),
          roundz(col("p99"), 2).as("p99"))
        .crossJoin(ord.agg(
          countDistinct(col("o_custkey")).as("n_buyers"),
          count(lit(1)).as("n_orders")))
    }),

    // Data-profiling pass: per-column null/distinct/min/max in one scan.
    "x21_profile" -> ((s, dir) =>
      // exact distinct counts: the oracle compares them value-for-value
      // (the 100 TB default is approx = true — see Profile)
      Profile.profile(t(s, dir, "customer"), approx = false).orderBy(col("column"))),

    // Window functions: top-3 orders by price within each priority class
    // (rank-per-group — one hash-partition shuffle on the window key).
    "x19_rank_per_group" -> ((s, dir) => {
      // scale-safe as written: Spark plans a WindowGroupLimit(Partial)
      // BELOW the exchange for row_number() <= k filters, so each map task
      // forwards only its per-group top-3 — the low-cardinality partition
      // key never sees the full table (PlanSpec pins the partial limit)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .where(col("rn") <= 3)
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    // As-of join: each click matched to the user's most recent prior
    // purchase (Temporal.asofJoinBackward — union + running-window shape,
    // ONE shuffle on user_id, no inequality-join explosion).
    "x22_asof_join" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      Temporal.asofJoinBackward(clicks, purchases, Seq("user_id"), "ts", "pts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_pts"),
          roundz(col("asof_value"), 4).as("asof_value"))
        .orderBy(col("event_id"))
    }),

    // Range join: orders classified into price bands. Band tables are
    // dimension-sized → broadcast nested-loop with the range predicate is
    // the right plan (zero shuffle); the big-big bucketized path is
    // Temporal.bucketedRangeJoin (equivalence spec-tested).
    "x23_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("small", 0.0, 50000.0),
        ("medium", 50000.0, 150000.0),
        ("large", 150000.0, 1.0e9)).toDF("band", "lo", "hi")
      Temporal.broadcastRangeJoin(t(s, dir, "orders"), bands, "o_totalprice", "lo", "hi")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"), roundz(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("band"))
    }),

    // Hierarchical rollup: revenue subtotals at (region, nation), per-region,
    // and grand-total levels in one pass (Expand + single shuffle — the
    // grouping-sets shape, not three scans).
    "x24_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(roundz(sum(col("c_acctbal")), 2).as("total_bal"), count(lit(1)).as("n_cust"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("total_bal"), col("n_cust"))
        .orderBy(col("region"), col("nation"))
    }),

    // Semi/anti joins: customers partitioned into buyers (left_semi against
    // orders) and non-buyers (left_anti), counted per nation. Semi/anti
    // shuffle only the key column of the probe side — never a row blowup.
    "x25_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val keys = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      val n = t(s, dir, "nation")
      val semi = c.join(keys, Seq("c_custkey"), "left_semi").withColumn("status", lit("buyer"))
      val anti = c.join(keys, Seq("c_custkey"), "left_anti").withColumn("status", lit("non_buyer"))
      semi.unionByName(anti)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("status"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_name"), col("status"))
    }),

    // Set operations: nation keys by presence in customer vs supplier
    // (INTERSECT / EXCEPT both ways, tagged). Each set op plans as a
    // hash-partitioned distinct + join — no driver-side set math.
    "x26_setops" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      cn.intersect(sn).withColumn("tag", lit("both"))
        .unionByName(cn.except(sn).withColumn("tag", lit("customer_only")))
        .unionByName(sn.except(cn).withColumn("tag", lit("supplier_only")))
        .select(col("tag"), col("nationkey"))
        .orderBy(col("tag"), col("nationkey"))
    }),

    // Time-series window frames: daily revenue with a 7-day moving average
    // and day-over-day delta. The global ORDER BY window runs on the
    // POST-aggregation series (one row per day) — tiny at any corpus scale,
    // so the single-partition window is fine; the heavy lifting (daily sum)
    // is a partial+final hash agg.
    "x27_moving_avg" -> ((s, dir) => {
      val w7 = org.apache.spark.sql.expressions.Window.orderBy(col("d")).rowsBetween(-6, 0)
      val wl = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(roundz(sum(col("o_totalprice")), 2).as("revenue"))
        .select(col("d"), col("revenue"),
          roundz(avg(col("revenue")).over(w7), 2).as("ma7"),
          roundz(col("revenue") - lag(col("revenue"), 1).over(wl), 2).as("delta"))
        .orderBy(col("d"))
    }),
    // SQL surface: the same engine through `spark.sql` over registered
    // catalog views — proof that a reference user can bring plain SQL.
    "q4_sql" -> ((s, dir) => {
      Catalog.registerViews(s, dir, Seq("orders", "customer", "nation"))
      s.sql("""SELECT n_name, (round(sum(o_totalprice), 2) + 0) AS revenue,
              |  count(*) AS n_orders
              |FROM orders
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin)
    }),

    // Unpivot/melt — the inverse of the flagship transpose. Pivot then
    // untranspose must restore the original long-form rows (the §5.2
    // roundtrip property; also asserted in TransposeSpec).
    "x28_unpivot" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(roundz(sum(col("l_quantity")), 2).as("sum_qty"))
      val piv = Transpose(base, Seq("l_returnflag"), "l_linestatus", Seq("sum_qty"))
      Transpose.untranspose(piv, Seq("l_returnflag"), "l_linestatus", Seq("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Cube: subtotals over every subset of (segment, nationkey) in one
    // Expand + single shuffle — the 2^k-grouping-sets shape.
    "x29_cube" -> ((s, dir) =>
      t(s, dir, "customer")
        .cube(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), roundz(sum(col("c_acctbal")), 2).as("total_bal"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("c_nationkey"), lit(-1L)).as("nationkey"),
          col("n_cust"), col("total_bal"))
        .orderBy(col("segment"), col("nationkey"))),

    // TF-IDF: top term per document (doc slice; document frequency over the
    // full corpus). Rankings tie-break on token; idf is rounded before the
    // multiply so a last-ulp ln() difference can't flip an order across
    // engines.
    "x30_tfidf" -> ((s, dir) => {
      val scored = TextStats.tfidf(t(s, dir, "documents"), "doc_id", "text")
        .where(col("doc_id") < 50)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("token"), col("tf"), roundz(col("tfidf"), 4).as("tfidf"))
        .orderBy(col("doc_id"))
    }),

    // Sparse TF-IDF cosine pairs on a bounded 30-doc slice (like x13, the
    // tiny shared vocabulary makes the full corpus near-all-pairs; the
    // operator's maxDocFreq prune is the scale path).
    "x68_tfidf_cosine" -> ((s, dir) =>
      TextStats.tfidfCosinePairs(
          t(s, dir, "documents").where(col("doc_id") < 30), "doc_id", "text",
          threshold = 0.5)
        .orderBy(col("a"), col("b"))),

    // Deterministic multiplicative-hash sample (1%): reproducible across
    // engines/partitionings — the DuckDB oracle selects the same rows.
    "x31_sample" -> ((s, dir) =>
      RelOps.hashSample(t(s, dir, "orders"), "o_orderkey", 0.01)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // Bivariate statistics in one aggregate pass.
    "x32_corr_stats" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        roundz(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        roundz(covar_samp(col("l_quantity"), col("l_discount")), 4).as("covar_qty_disc"),
        roundz(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        roundz(var_samp(col("l_quantity")), 4).as("var_qty"))),

    // Per-group interpolated percentiles (x20's global summary, grouped).
    "x33_group_quantiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          roundz(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
          roundz(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          roundz(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),

    // Bigram document-frequency top-20 (set semantics per document via the
    // distinct shingle arrays; explode fan-out absorbed by partial agg).
    "x34_bigrams" -> ((s, dir) =>
      Dedup.shingled(t(s, dir, "documents"), "doc_id", "text", 2)
        .select(explode(graft.functions.Staging.pin(col("sh"))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("bigram"))
        .limit(20)),

    // JSON-lines source round-trip (schema-declared read, no inference).
    "s5_json_roundtrip" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val p = s"/tmp/graft/s5_json_${storeTag(dir)}"
      Catalog.writeJson(nation, p)
      Catalog.json(s, p, nation.schema).orderBy(col("n_nationkey"))
    }),

    // PII-ish redaction: mask emails and long digit runs in one projection.
    "x36_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.redact(col("text")).as("clean"))
        .orderBy(col("doc_id"))),

    // Fixed-size token chunking with overlap — documents → model-context
    // pieces (50 tokens, 10 overlap).
    "x37_chunks" -> ((s, dir) =>
      TextStats.chunked(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 50, overlap = 10)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // MERGE-style upsert round-trip: copy the table aside, replace the
    // acctbal of 10 suppliers and insert 2 new ones, read the result back.
    "k4_upsert" -> ((s, dir) => {
      import s.implicits._
      val root = s"/tmp/graft/k4_${storeTag(dir)}"
      val sup = t(s, dir, "supplier")
      Catalog.writeTruncate(sup, root, "supplier_upsert")
      val updates = sup.where(col("s_suppkey") < 10)
        .withColumn("s_acctbal", roundz(col("s_acctbal") + 1000, 2))
        .unionByName(
          Seq((900001L, "NEW SUPP 1", 0, 1.23), (900002L, "NEW SUPP 2", 1, 4.56))
            .toDF(sup.columns.toIndexedSeq: _*)
            .withColumn("s_nationkey", col("s_nationkey").cast("int")))
      Catalog.upsert(s, root, "supplier_upsert", updates, Seq("s_suppkey"))
      Catalog.table(s, root, "supplier_upsert")
        .select(col("s_suppkey"), col("s_name"), roundz(col("s_acctbal"), 2).as("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // K4 proper: pivot → enforce the dynamically-derived schema (REQUIRED
    // keys, typed pivot columns — reference
    // `data_transpose_working_1.py:206-221`) → sink → read back.
    "k4_enforced_transpose" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linenumber"), col("l_linestatus"))
        .agg(roundz(sum(col("l_quantity")), 2).as("sum_qty"))
      val out = Transpose.withEnforcedSchema(base,
        Seq("l_returnflag", "l_linenumber"), "l_linestatus", Seq("sum_qty"))
      val root = s"/tmp/graft/k4t_${storeTag(dir)}"
      Catalog.writeTruncate(out, root, "pivot_enforced")
      Catalog.table(s, root, "pivot_enforced")
        .orderBy(col("l_returnflag"), col("l_linenumber"))
    }),

    // K5: one cached source scan feeding two sinks (reference
    // `csv_to_bq_NYC.py:128-150`), both read back and union-tagged.
    "k5_fanout" -> ((s, dir) => {
      val root = s"/tmp/graft/k5_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val nation = t(s, dir, "nation")
      Catalog.fanOut(nation, cache = true)(
        d => Catalog.writeTruncate(
          d.select(col("n_nationkey"), col("n_name")), root, "names"),
        d => Catalog.writeTruncate(
          d.groupBy(col("n_regionkey")).agg(count(lit(1)).as("n_nations")),
          root, "counts"))
      val names = Catalog.table(s, root, "names")
        .select(lit("names").as("sink"), col("n_nationkey").cast("long").as("k"),
          col("n_name").as("v"))
      val counts = Catalog.table(s, root, "counts")
        .select(lit("counts").as("sink"), col("n_regionkey").cast("long").as("k"),
          col("n_nations").cast("string").as("v"))
      names.unionByName(counts).orderBy(col("sink"), col("k"))
    }),

    // K6: compact schema-string parse + coercion, via the csvToTable
    // pipeline (reference `csv_to_bq.py:7,41-48`): all-strings CSV read,
    // `"name:TYPE,..."` parse, cast at the sink boundary, read back typed.
    "k6_schema_roundtrip" -> ((s, dir) => {
      val root = s"/tmp/graft/k6_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val csvPath = s"$root/nation_csv"
      Catalog.writeCsv(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        csvPath)
      Pipelines.csvToTable(s, csvPath,
        "n_nationkey:INTEGER,n_name:STRING,n_regionkey:INTEGER", root, "nation_typed")
      Catalog.table(s, root, "nation_typed").orderBy(col("n_nationkey"))
    }),

    // §3.3 serving lookup, FastAPI semantics: case-insensitive hit; miss →
    // "Not found" + zeros (`Fast_API/main.py:25-36`, SURVEY §2.9(h)).
    "lookup_fastapi" -> ((s, dir) => {
      val dim = t(s, dir, "nation")
        .select(col("n_name"), col("n_nationkey"), col("n_regionkey"))
      Pipelines.Lookup.fastapi(dim, "nAtIoN_7")
        .unionByName(Pipelines.Lookup.fastapi(dim, "Atlantis"))
        .orderBy(col("n_name"))
    }),

    // Approximate sketches — the 100 TB path next to the exact x20/x33
    // (HLL++ distinct count, quantile-sketch percentiles). Both partial-
    // aggregate map-side; neither sorts or materializes a group. Sketch
    // internals differ per engine, so the SQL-verifiable property is the
    // error bound: exact values (oracle-recomputable) plus within-bounds
    // booleans computed against the exact aggregates IN THE SAME PLAN —
    // HLL at rsd=0.02 must land within 10% relative, the quantile sketch
    // at accuracy=5000 within 2%. The oracle asserts the booleans
    // literally TRUE, so sketch drift flips the hash.
    // Three tiny frames cross-joined instead of one mega-agg: countDistinct
    // next to other aggregates plans an Expand that doubles the scanned
    // rows through every buffer, and the exact percentile goes through
    // Stats.percentiles' adaptive path (single-task below 4M values,
    // distributed above) rather than a one-group percentile buffer.
    "x38_approx_stats" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val exact = Stats.percentiles(o, "o_totalprice", Seq(0.5, 0.95),
        Seq("__p50e", "__p95e"))
      val buyers = o.select(col("o_custkey")).distinct()
        .agg(count(lit(1)).as("n_buyers"))
      o.agg(
          count(lit(1)).as("n_orders"),
          approx_count_distinct(col("o_custkey"), 0.02).as("__hll"),
          expr("approx_percentile(o_totalprice, array(0.5, 0.95), 5000)").as("__pa"))
        .crossJoin(broadcast(buyers))
        .crossJoin(broadcast(exact))
        .select(col("n_orders"), col("n_buyers"),
          (abs(col("__hll") - col("n_buyers")) <= col("n_buyers") * 0.1).as("hll_ok"),
          (abs(element_at(col("__pa"), 1) - col("__p50e"))
            <= abs(col("__p50e")) * 0.02).as("p50_ok"),
          (abs(element_at(col("__pa"), 2) - col("__p95e"))
            <= abs(col("__p95e")) * 0.02).as("p95_ok"))
    }),

    // Structured JSON extraction from a string column (events.props) —
    // from_json into a typed struct, then a grouped aggregate over it.
    "x39_json_extract" -> ((s, dir) =>
      Catalog.events(s, dir)
        .select(col("event_type"), expr("from_json(props, 'k INT').k").as("k"))
        .groupBy(col("event_type"))
        .agg(roundz(avg(col("k")), 4).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    // Schema evolution at the source: two batches with different column
    // sets union by name, missing columns null-filled — the ingest shape
    // when a producer adds a field mid-stream.
    "s6_schema_evolution" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val root = s"/tmp/graft/s6_${storeTag(dir)}"
      Catalog.writeTruncate(
        nation.drop("n_regionkey").withColumn("batch", lit("day1")), root, "ev1")
      Catalog.writeTruncate(nation.withColumn("batch", lit("day2")), root, "ev2")
      Catalog.table(s, root, "ev1")
        .unionByName(Catalog.table(s, root, "ev2"), allowMissingColumns = true)
        .select(col("batch"), col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("batch"), col("n_nationkey"))
    }),

    // Full outer join: per-nation customer vs supplier counts, keys kept
    // from either side.
    "x35_full_outer" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n_cust"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n_supp"))
      cn.join(sn, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // GROUPING SETS — the general form behind x24 rollup / x29 cube: three
    // chosen aggregation grains in one pass (Spark plans a single Expand +
    // hash aggregate, one shuffle — not three scans). Grouping nulls are
    // labelled 'ALL' so the compare is total-order stable.
    "x40_grouping_sets" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(roundz(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("revenue"), col("n"))
        .orderBy(col("status"), col("priority"))),

    // Duplicate-cluster assembly: near-dup pairs → connected components
    // → every document labelled with its cluster's min doc id. Served
    // from the shared stored pair table (x2's oracle pins the store
    // against the exact truth), so clustering is a pairs-sized CC plus
    // one id join. Oracle recomputes the ≥0.9 pairs brute-force and
    // closes them with a recursive CTE.
    "x41_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.clustersFromPairs(docs, pairTruth(s, dir), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Keep-best dedup: same clusters as x41, but each cluster survives
    // through its LONGEST member (n_chars desc, id tiebreak) rather than
    // its minimum id — the quality-aware keep policy. Clusters come off
    // the shared stored pair truth.
    "x61_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupKeepBest(docs, "doc_id", "text",
          "n_chars", threshold = 0.9,
          precomputedClusters =
            Some(Dedup.clustersFromPairs(docs, pairTruth(s, dir), "doc_id")))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Composed cluster + keep-best: ONE pairs→CC pass (off the shared
    // stored pair truth, persisted) feeds both the survivor decision
    // (via `precomputedClusters`) and the cluster_id attached to each
    // kept doc. The persist is tiny (two longs per doc) and is what
    // makes the shared pass actually shared: without it the second
    // reference would re-join the corpus against the CC labels.
    "x82_cluster_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cl = Dedup.clustersFromPairs(docs, pairTruth(s, dir), "doc_id")
      Lifecycle.withCachedInputs(cl) {
        Dedup.dedupKeepBest(docs, "doc_id", "text", "n_chars", threshold = 0.9,
            precomputedClusters = Some(cl))
          .join(cl, Seq("doc_id"))
          .select(col("doc_id"), col("cluster_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      }
    }),

    // LSH recall estimate on a 15% hash-sample. The seeded MinHash isn't
    // replayable in SQL, but the estimator's inputs and contract are: the
    // deterministic hash-sample membership and the exact-Jaccard truth
    // pair count are both recomputed by the oracle (x2-style O(n²) within
    // the sample), and recall — planted near-identical duplicates at
    // threshold 0.9 — must clear 0.95 (observed 1.0). A sampling, truth,
    // or banding regression each flips a different column. 15% keeps the
    // quadratic truth side ~11× cheaper than round 5's 50% while the
    // planted dups keep n_true_pairs > 0 at both gate SFs (2 at sf0.01,
    // 5 at sf0.1) — and `has_truth` vs the oracle's literal TRUE turns
    // that into an assertion: an empty truth set goes red, not vacuous.
    "x67_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecallEstimate(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.9, sampleFraction = 0.15)
        .select(col("n_docs"), col("n_true_pairs"),
          (col("n_true_pairs") > 0).as("has_truth"),
          ((col("recall").isNull && col("n_true_pairs") === 0) ||
            col("recall") >= 0.95).as("recall_ok"))),

    // Train/test contamination: 8-gram overlap of each corpus doc against a
    // benchmark set (deterministic 10% slice), via broadcast inverted index.
    "x42_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contamination(docs, docs.where(col("doc_id") % 10 === 0),
          "doc_id", "text", shingleSize = 8)
        .orderBy(col("doc_id"))
    }),

    // Embedding int8 quantization: per-vector scale + worst reconstruction
    // error (bounded by scale/2) — the 4×-smaller storage path for a vector
    // corpus. Oracle replays the same scale/round/dequantize math on
    // DuckDB lists.
    "x43_embed_quantize" -> ((s, dir) => {
      val q = Embeddings.quantizeInt8(t(s, dir, "embeddings"), "embedding")
      // two projections: aliasing round(scale) AS scale in the same select
      // would lateral-alias-capture the col("scale") inside dequantize
      q.select(col("vec_id"), col("scale"),
          array_max(zip_with(
            Embeddings.dequantize(col("qvec"), col("scale")),
            transform(col("embedding"), x => x.cast("double")),
            (a, b) => abs(a - b))).as("__err"))
        .select(col("vec_id"), roundz(col("scale"), 6).as("scale"),
          roundz(col("__err"), 6).as("max_err"))
        .orderBy(col("vec_id"))
    }),

    // Last-touch attribution: purchase ⋈ same-user clicks in the prior
    // hour (equi-key interval join), latest click wins. The same
    // attributionPairs core runs stream-stream with bounded state
    // (StreamingSpec).
    "x44_attribution" -> ((s, dir) =>
      EventsStream.lastTouch(Catalog.events(s, dir))
        .orderBy(col("purchase_id"))),

    // End-to-end pretraining curation: lang='en' → quality ≥ 0.5 → exact
    // dedup → 50/10 token chunks, all one composed Catalyst plan. The
    // oracle chains the already-verified x6/x5/x1/x37 SQL stage by stage.
    "x45_curation" -> ((s, dir) =>
      Pipelines.curate(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Time-RANGE window frame: per-user rolling 1-hour count/sum at every
    // event — value-based frames (micros), not row counts, so ties and
    // irregular event spacing behave identically at any scale.
    "x46_range_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000, 0)
      Catalog.events(s, dir)
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          roundz(sum(col("value")).over(w), 2).as("sum_1h"))
        .orderBy(col("event_id"))
    }),

    // Rank-function family: ntile quartiles, percent_rank, cume_dist per
    // priority class (unique (price, key) sort → fully deterministic).
    // Two-pass range-bucketed plan (Ranks): `Window.partitionBy(priority)`
    // would sort the whole table through 5 tasks — groups × buckets
    // parallelism instead. RanksSpec pins equality with Spark's window
    // functions; the plan hazard is documented in SCALE.md.
    "x47_rank_family" -> ((s, dir) =>
      Ranks.rankFamily(t(s, dir, "orders"), "o_orderpriority",
          Seq("o_totalprice", "o_orderkey"), ntileN = 4)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("ntile").as("quartile"),
          roundz(col("percent_rank"), 6).as("pct_rank"),
          roundz(col("cume_dist"), 6).as("cume"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))),

    // Daily resample + gap fill: every user gets a contiguous day grid
    // over their active span, counts 0-filled, values carried forward.
    "x48_gapfill" -> ((s, dir) =>
      Temporal.gapFillDaily(Catalog.events(s, dir))
        .orderBy(col("user_id"), col("day"))),

    // Deterministic train/val/test split: md5-bucket of the key — stable
    // across runs/engines/layouts (narrow map, no RNG, no shuffle), so
    // incremental re-processing never migrates a document across splits.
    "x49_train_split" -> ((s, dir) =>
      Training.hashSplit(t(s, dir, "documents").select(col("doc_id")), "doc_id")
        .orderBy(col("doc_id"))),

    // Sequence packing (concat-and-chop): per-shard running token offset
    // tags each document with its training-sequence id and offset.
    // Parallelism = nShards; shard assignment and order are deterministic.
    "x50_pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      Training.packSequences(d, "doc_id", "n_tokens", budget = 256, nShards = 8)
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition quality gate: duplicate-token and
    // top-token fractions per document, one explode + two keyed aggs.
    "x51_repetition" -> ((s, dir) =>
      Training.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Source dominance cap: at most 10 documents per source — rank-filter
    // window, planned with WindowGroupLimit(Partial) below the exchange,
    // so skewed sources never funnel the corpus through few tasks.
    "x53_source_cap" -> ((s, dir) =>
      Training.capPerGroup(t(s, dir, "documents")
          .select(col("doc_id"), col("source")),
        Seq("source"), Seq("doc_id"), maxPerGroup = 10)
        .orderBy(col("doc_id"))),

    // Incremental dedup: a new batch (doc_id % 5 == 4) decontaminated
    // against the existing corpus — exact hash anti-join + LSH-bucketed
    // near-dup matches, corpus never joined all-pairs. The oracle
    // recomputes the exact batch×corpus Jaccard truth, so LSH recall is
    // checked end-to-end, as in x2.
    "x52_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.where(col("doc_id") % 5 === 4)
      val corpus = docs.where(col("doc_id") % 5 =!= 4)
      Dedup.incrementalDedup(batch, corpus, "doc_id", "text", threshold = 0.9)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered incremental exact dedup: the corpus folds to one
    // bounded bloom sketch (native BloomFilterAggregate, registered as
    // bloom_agg — no UDF), the batch probes it MAP-SIDE (bloom_contains
    // inside codegen) and only the pass-through sliver reaches the exact
    // hash semi-join. Planted: 20 even-corpus texts re-enter under
    // shifted ids, so ≥ 20 dups exist by construction; the oracle is the
    // plain EXISTS truth — bloom false positives must all die in the
    // verify join for the hash to match.
    "x98_bloom_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 2 === 0)
      val batch = d.where(col("doc_id") % 2 === 1)
        .unionByName(corpus.where(col("doc_id") < 40)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.bloomPrefilterDupIds(batch, corpus, "doc_id", "text",
          expectedItems = 100000L, fpp = 0.01)
        .orderBy(col("doc_id"))
    }),

    // Data-quality audit: N constraints over orders in ONE aggregation
    // pass (row predicates + key uniqueness), melted to one row per rule.
    "x55_quality_audit" -> ((s, dir) =>
      graft.operators.Checks.audit(t(s, dir, "orders"),
        rowRules = Seq(
          "positive_price" -> (col("o_totalprice") > 0),
          "custkey_not_null" -> col("o_custkey").isNotNull,
          "priority_known" -> col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        uniqueKeys = Seq("unique_orderkey" -> Seq("o_orderkey")))
        .orderBy(col("rule"))),

    // SCD Type-2 dimension build: the events stream as a change log of
    // each user's event_type — consecutive unchanged values collapse,
    // each version carries its validity interval (eff_to null = current).
    "x54_scd2" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      Temporal.scd2(ev, Seq("user_id"), "ts", Seq("event_type"),
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("eff_from"),
          col("eff_to"), col("is_current"))
        .orderBy(col("user_id"), col("eff_from"), col("event_type"))
    }),

    // JL random projection to 16 dims: a narrow map of seeded-Rademacher
    // dot products. The seeded matrix isn't replayable in SQL, but the JL
    // guarantee is — E[‖proj‖²] = ‖x‖² under the 1/√k scaling, so the
    // corpus mean of the squared-norm ratio concentrates tightly around 1
    // (var ≈ 2/(16·n)). The oracle re-derives the spine (out_dims, vector
    // count over nonzero-norm rows) and asserts the bound literally TRUE;
    // per-pair geometry stays asserted in SimilaritySpec.
    "x65_jl_project" -> ((s, dir) => {
      val p = Similarity.randomProject(t(s, dir, "embeddings"), outDims = 16)
      val nIn = pow(Similarity.norm(col("embedding")), 2)
      val nOut = pow(Similarity.norm(col("proj")), 2)
      p.where(nIn > 0)
        .agg(count(lit(1)).as("n_vecs"), avg(nOut / nIn).as("__r"))
        .select(lit(16).as("out_dims"), col("n_vecs"),
          (abs(col("__r") - 1.0) <= 0.15).as("mean_sq_ratio_ok"))
    }),

    // Seasonal-baseline outlier flags: z-score vs the (type, hour) bucket
    // mean/stddev — tiny stats frame broadcast back over the stream.
    "x66_value_anomalies" -> ((s, dir) =>
      Behavior.valueAnomalies(Catalog.events(s, dir), z = 3.0)
        .select(col("event_id"), roundz(col("zscore"), 4).as("zscore"),
          col("is_anomaly"))
        .orderBy(col("event_id"))),

    // Token co-occurrence PMI (collocation mining): doc-level distinct
    // pairs, self-join co-partitioned on doc id, giant docs excluded.
    "x64_pmi" -> ((s, dir) =>
      TextStats.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
        minCount = 50, topK = 40)),

    // Winsorization at exact [p05, p95]: the adaptive percentile pass
    // (single-task below 4M values, distributed above) feeds a broadcast
    // clipping map — outlier treatment before scale-sensitive stats.
    "x62_winsorize" -> ((s, dir) =>
      Stats.winsorize(t(s, dir, "lineitem"), "l_extendedprice",
          lo = 0.05, hi = 0.95)
        .select(col("l_orderkey"), col("l_linenumber"),
          roundz(col("clipped"), 2).as("clipped"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // Equi-width 20-bin histogram: 1-row min/max broadcast into the
    // bucketing map, then a <= bins-group aggregate.
    "x70_histogram" -> ((s, dir) =>
      Stats.histogram(t(s, dir, "orders"), "o_totalprice", bins = 20)
        .orderBy(col("bucket"))),

    // Key-skew diagnostic: heaviest keys with share + skew factor — the
    // pre-flight check before picking join keys (skew >> 1 ⇒ salt).
    "x63_key_skew" -> ((s, dir) =>
      Profile.keySkew(t(s, dir, "orders"), "o_custkey", k = 10)
        .orderBy(col("n").desc, col("key"))),

    // Unbiased deterministic 5-per-source sample: md5-ranked inside each
    // group, WindowGroupLimit keeps the map-side forward bounded.
    "x69_sample_per_group" -> ((s, dir) =>
      Training.sampleNPerGroup(t(s, dir, "documents"), Seq("source"),
          "doc_id", nPerGroup = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // Corpus-self-trained unigram LM score (CCNet-style quality signal).
    // vocabSize=20 < the corpus's ~31-word vocabulary, so the OOV floor
    // path is exercised too.
    "x60_unigram_lp" -> ((s, dir) =>
      TextStats.unigramLogProb(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 20)
        .select(col("doc_id"), roundz(col("unigram_lp"), 6).as("unigram_lp"))
        .orderBy(col("doc_id"))),

    // DSIR importance weights: target LM fitted on the deterministic 10%
    // in-domain slice (doc_id % 10 = 0 — the same slice x42 uses as its
    // benchmark set), source LM on the whole corpus; per-doc weight is the
    // avg token log-likelihood ratio. Oracle replays both LMs in SQL (the
    // x60 estimator twice) and the exact ratio.
    "x84_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextStats.importanceWeights(docs,
          docs.where(col("doc_id") % 10 === 0), "doc_id", "text",
          vocabSize = 20)
        .select(col("doc_id"), roundz(col("dsir_w"), 6).as("dsir_w"))
        .orderBy(col("doc_id"))
    }),

    // The DSIR RESAMPLING step the weights exist for: per-source top-5 by
    // Efraimidis–Spirakis priority u^(1/exp(w)) — in-domain-looking docs
    // oversampled, md5-deterministic, engine-replayable. The weight is
    // double-rounded (w to 6, then exp to 6) so both engines rank on
    // bit-identical weights — exp/pow differ by ~1 ulp across libm
    // implementations, and an unrounded weight would let a 9th-digit
    // priority boundary flip a rank (the residual pow exposure is the
    // same one x73 has carried green since round 5).
    "x85_dsir_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextStats.importanceWeights(docs,
          docs.where(col("doc_id") % 10 === 0), "doc_id", "text",
          vocabSize = 20)
        .where(col("dsir_w").isNotNull)
        .select(col("doc_id"), roundz(exp(roundz(col("dsir_w"), 6)), 6).as("w"))
      Training.weightedSampleNPerGroup(docs.join(w, Seq("doc_id")),
          Seq("source"), "doc_id", "w", nPerGroup = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // Sequence-level (substring) exact dedup: maximal runs of word 8-grams
    // occurring ≥2 times anywhere in the corpus — the within-doc
    // boilerplate pass doc-level dedup can't see. Positional shingles →
    // map-side-combined duplicate counts → AQE-splittable semi-join →
    // per-doc gaps-and-islands run merge. The whole construction is
    // SQL-replayable (string shingles; the oracle rebuilds runs with the
    // same list-slice + row_number recipe).
    "x86_substring_dedup" -> ((s, dir) =>
      Dedup.repeatedRuns(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"), col("run_start"))),

    // Strict ordered funnel over the event stream: one shuffle on user_id
    // builds each user's sorted history, a fold chains first-touch stage
    // times. Oracle is the classic per-stage conditional-min join chain.
    "x56_funnel" -> ((s, dir) =>
      Behavior.funnel(Catalog.events(s, dir), Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))),

    // Most common 3-step user journeys: lead() windows keyed on user_id,
    // map-side partial-agged path counts, top-20.
    "x71_event_paths" -> ((s, dir) =>
      Behavior.topEventPaths(Catalog.events(s, dir), n = 3, topK = 20)),

    // Exact rolling 7-day WAU + stickiness without sketches: activity
    // explodes into its 7 contribution days, one countDistinct per day.
    "x72_stickiness" -> ((s, dir) =>
      Behavior.rollingStickiness(Catalog.events(s, dir))
        .orderBy(col("day"))),

    // Weekly cohort retention triangle: distinct (user, week) activity and
    // per-user first week shuffle on the same key, then a tiny cell count.
    "x57_retention" -> ((s, dir) =>
      Behavior.weeklyRetention(Catalog.events(s, dir))
        .orderBy(col("cohort_week"), col("week_offset"))),

    // Per-source weighted sampling (temperature-style corpus mixing): a
    // deterministic hash gate per stratum — one narrow filter, no shuffle,
    // reproducible across engines (the oracle replays the same formula).
    "x58_stratified_sample" -> ((s, dir) =>
      RelOps.stratifiedHashSample(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // Temperature-weighted mixing (x58's self-tuning sibling): per-source
    // rates are COMPUTED from the corpus — w_s ∝ n_s^0.5 upweights rare
    // sources, rate_s = min(1, fN·w_s/n_s) — then applied through the
    // same deterministic hash gate. One bounded count-per-source to the
    // driver, one narrow filter over the scan; the oracle recomputes the
    // rate table in SQL and replays the gate arithmetic exactly.
    "x100_temperature_mix" -> ((s, dir) =>
      Training.temperatureMix(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", alpha = 0.5, targetFraction = 0.5)
        .orderBy(col("doc_id"))),

    // Diversity (coreset) sampling: spherical-k-means cells over the
    // embedding corpus, then the deterministic md5-rank sample keeps up to
    // 12 vectors PER CELL — coverage of every semantic region instead of
    // frequency-weighted mass (rare regions survive, dense ones are
    // capped). Cells are engine-internal (trained k-means), so the
    // declared output is the SQL-checkable corpus total plus in-plan
    // property flags: at most k cells (cells_ok) and every cell's
    // selection exactly min(12, |cell|) (cap_ok).
    "x99_diverse_sample" -> ((s, dir) => {
      val assigned = Similarity.kmeansAssign(t(s, dir, "embeddings"),
        k = 8, iters = 3)
      Lifecycle.withMaterialized(assigned) {
        val sel = Training.sampleNPerGroup(assigned, Seq("cell"), "vec_id", 12)
        assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_tot"))
          .join(sel.groupBy(col("cell")).agg(count(lit(1)).as("n_sel")),
            Seq("cell"), "left")
          .agg(
            sum(col("n_tot")).as("n_vecs"),
            (count(lit(1)) <= 8).as("cells_ok"),
            min(coalesce(col("n_sel"), lit(0L)) ===
              least(lit(12L), col("n_tot"))).as("cap_ok"))
      }
    }),

    // Count-min-sketch heavy hitters: token frequencies estimated from a
    // 3×16-counter sketch TABLE (bounded state no matter the corpus size)
    // for the exact top-10 tokens. Built with the engine-portable md5
    // bucket hasher, so the oracle recomputes the ENTIRE sketch in SQL —
    // counters, bucket assignment, min-over-rows estimate — and the
    // estimate column itself hash-matches (strictly stronger than
    // property flags; the fast xxhash64 hasher stays the library
    // default, spec-pinned for the same guarantees).
    "x101_cms_heavy_hitters" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(explode(TextStats.tokens(lower(col("text")))).as("tok"))
      Lifecycle.withMaterialized(tk) {
        val truth = tk.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        val top = truth.orderBy(col("n").desc, col("tok")).limit(10)
        val sketch = Sketches.cmsBuild(tk, "tok", depth = 3, width = 16,
          hasher = Sketches.md5Bucket)
        Sketches.cmsEstimate(top, "tok", sketch, depth = 3, width = 16,
            hasher = Sketches.md5Bucket)
          .orderBy(col("n").desc, col("tok"))
      }
    }),

    // Embedding-space label audit: every vector assigned to its nearest
    // label PROTOTYPE (unit-normalized exact per-label mean, cosine order,
    // scores rounded to 6 before the argmax) → label×assigned confusion
    // counts. Fully SQL-expressible, so the oracle recomputes prototypes,
    // assignment, and counts exactly — a hash-match on the whole matrix.
    "x102_label_confusion" -> ((s, dir) =>
      Similarity.labelConfusion(t(s, dir, "embeddings"))
        .orderBy(col("label"), col("assigned"))),

    // HLL distinct sketches: per-source HllSketch of document texts
    // (native hll_sketch_agg — bounded mergeable state, the
    // count-distinct analog of the CMS story), estimates checked in-plan
    // against exact countDistinct within 5% (HLL at lgK=12 measures well
    // under 2%), plus a '__all__' row whose estimate comes from UNIONING
    // the per-source sketches — re-aggregation without raw data, the
    // property exact distinct counts can never offer. The oracle
    // recomputes every exact count and asserts the flags literally TRUE.
    "x104_hll_distinct" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("text"))
      Lifecycle.withMaterialized(d) {
        val sk = d.groupBy(col("source"))
          .agg(hll_sketch_agg(col("text"), lit(12)).as("hll"),
            countDistinct(col("text")).as("n_exact"))
        val per = sk.select(col("source"), col("n_exact"),
          (abs(Sketches.hllEstimate(col("hll")) - col("n_exact")) <=
            col("n_exact") * 0.05).as("est_ok"))
        val glob = d.agg(countDistinct(col("text")).as("n_exact"))
          .crossJoin(Sketches.hllUnionEstimate(sk.select(col("hll"))))
          .select(lit("__all__").as("source"), col("n_exact"),
            (abs(col("hll_est") - col("n_exact")) <=
              col("n_exact") * 0.05).as("est_ok"))
        per.unionByName(glob).orderBy(col("source"))
      }
    }),

    // PageRank over the symmetrized customer↔supplier trade graph (edges =
    // distinct trading pairs via orders⋈lineitem; suppliers offset by 1e6
    // into a disjoint id space): 3 power-iteration passes, damping 0.85,
    // from the uniform start. The engine's one iterative-graph operator —
    // a driver loop over cluster-side join+agg passes with the edge list
    // cached and co-partitioned on the join key; the oracle unrolls the
    // same three passes as SQL CTEs. Symmetric graph → no dangling mass,
    // so both sides run the plain update rule.
    "x105_pagerank" -> ((s, dir) => {
      // no pre-distinct: pageRank dedups its edge input anyway, and the
      // union's reversed branch reuses the join's exchange instead of
      // paying a second distinct shuffle
      val e0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, "src", "dst", iters = 3, damping = 0.85)
        .select(col("node"), roundz(col("rank") * 1000, 6).as("rank_x1000"))
        .orderBy(col("node"))
    }),

    // Snapshot diff between two corpus versions (v1 drops doc_id % 7 = 0,
    // v2 drops % 5 = 1 and upper-cases % 11 = 0): every key classified
    // added/removed/changed/unchanged with content equality decided on
    // hashes, so the full-outer shuffle carries (key, 32B), never text —
    // the corpus-versioning audit shape at 100 TB.
    "x114_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(col("doc_id") % 7 =!= 0)
      val v2 = docs.where(col("doc_id") % 5 =!= 1)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          upper(col("text"))).otherwise(col("text")))
      RelOps.snapshotDiff(v1, v2, Seq("doc_id"), Seq("text"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // Fuzzy record linkage: all customer pairs within a nation block at
    // Levenshtein distance ≤ 1 on the name — blocked by the SymSpell
    // deletion neighborhood (lossless for distance 1, no all-pairs
    // anywhere), exact-verified per candidate. The oracle recomputes the
    // pairs from the naive blocked product, so the blocking's
    // completeness is what the hash compare proves.
    "x115_fuzzy_match" -> ((s, dir) =>
      graft.operators.Linkage.fuzzyPairs(t(s, dir, "customer"),
          "c_custkey", "c_name", Seq("c_nationkey"))
        .select(col("c_nationkey"), col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))),

    // Corpus-self-trained multinomial Naive Bayes lang classifier (x6's
    // heuristic upgraded to a trained model), evaluated as the
    // actual×predicted confusion matrix. Scores rounded before argmax
    // with label-asc ties (the x102 convention); the oracle refits the
    // whole model in SQL — counts, smoothing, priors, argmax.
    "x116_nb_classify" -> ((s, dir) =>
      TextStats.naiveBayesPredict(t(s, dir, "documents"),
          "doc_id", "text", "lang")
        // tokenless docs predict null; the oracle's inner join drops them
        .where(col("predicted").isNotNull)
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))),

    // CDC changelog → current snapshot: events replayed as a keyed
    // changelog (user_id key, (ts, event_id) sequence, 'error' rows as
    // tombstones) — latest op per key wins, tombstoned keys vanish. One
    // shuffle, rank bounded map-side by WindowGroupLimit.
    "x117_cdc_apply" -> ((s, dir) =>
      RelOps.cdcApply(
          Catalog.events(s, dir).select(
            col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
              .as("op"),
            col("event_type"), col("value")),
          keys = Seq("user_id"), seqCols = Seq("ts", "event_id"),
          opCol = "op")
        .select(col("user_id"), col("event_type"),
          roundz(col("value"), 4).as("value"))
        .orderBy(col("user_id"))),

    // Distribution drift between the x114 corpus versions: per-lang PSI
    // of n_chars over 10 fixed bins on [0, 600) — the shape-level
    // monitoring companion to x114's key-level diff. Both snapshot
    // splits are deterministic, so the oracle replays binning, add-half
    // smoothing, and the PSI sum exactly.
    "x118_drift_psi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(col("doc_id") % 7 =!= 0)
      val v2 = docs.where(col("doc_id") % 5 =!= 1)
      graft.operators.Checks.psiDrift(v1, v2, Seq("lang"), "n_chars",
          lo = 0.0, hi = 600.0, nBins = 10)
        .orderBy(col("lang"))
    }),

    // Cluster canonicalization: the curation step AFTER dedup clustering
    // that keeps LINEAGE — each near-dup cluster collapses to one
    // canonical record (longest member, id tiebreak — x61's keep policy)
    // carrying merged provenance: the sorted distinct source set, member
    // count, and total chars absorbed. Dedup without losing where the
    // copies came from. Composes x41's clusters + one grouped pass.
    "x128_cluster_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val joined = docs.join(
        Dedup.clustersFromPairs(docs, pairTruth(s, dir), "doc_id"), "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val canon = joined.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("canonical_id"))
      joined.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          concat_ws(",", sort_array(collect_set(col("source")))).as("sources"),
          sum(col("n_chars")).as("total_chars"))
        .join(canon, "cluster_id")
        .select(col("cluster_id"), col("canonical_id"), col("n_members"),
          col("sources"), col("total_chars"))
        .orderBy(col("cluster_id"))
    }),

    // Lag-debounce per (user, type): drop events whose predecessor is
    // within 10 minutes — the double-click/retry-storm collapse before
    // counting. Exact integer-microsecond arithmetic on both engines
    // (a timestamp→double cast could flip a boundary gap); the oracle
    // replays the identical window.
    "x127_debounce" -> ((s, dir) =>
      graft.operators.Behavior.debounce(Catalog.events(s, dir),
          keys = Seq("user_id", "event_type"), tsCol = "ts", gapSec = 600L,
          tieBreak = Seq("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("event_type"))),

    // Contamination contagion: seed flags (doc_id % 13 = 0) propagate
    // over the near-dup edge graph (x2's exact-verified Jaccard ≥ 0.9
    // pairs, symmetrized) with max-decay semantics — score =
    // seed·0.5^hops along the best path, 2 hops. x42 finds direct
    // benchmark overlap; this flags the near-copies of the near-copies.
    // The oracle replays the exact pair set (x2's oracle body) and
    // unrolls both propagation rounds as SQL.
    "x126_label_prop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = pairTruth(s, dir)
      // symmetrize in ONE pass (the stored read is cheap, but one scan
      // still beats two); edge truth comes from the shared pair table
      val edges = pairs.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      val seeds = docs.select(col("doc_id").as("node"),
        when(col("doc_id") % 13 === 0, 1.0).otherwise(0.0).as("score"))
      Graph.maxPropagate(edges, seeds, iters = 2, decay = 0.5)
        .select(col("node"), roundz(col("score"), 4).as("score"))
        .orderBy(col("node"))
    }),

    // Label-distinctive tokens (Monroe et al. log-odds z with an
    // informative Dirichlet prior): which words make each language slice
    // different — the slice-characterization / label-leakage audit next
    // to PMI (token-token) and TF-IDF (token-doc). Top-5 per lang,
    // round-before-rank; the oracle replays counts, prior, z, and rank.
    "x124_distinctive_tokens" -> ((s, dir) =>
      TextStats.distinctiveTokens(t(s, dir, "documents"), "text", "lang",
          topK = 5)
        .orderBy(col("lang"), col("rank"))),

    // CCNet-style RELATIVE quality gate: keep each language's documents
    // above that language's own 30th percentile of the (rounded)
    // unigram-LM score — per-language absolute thresholds are
    // meaningless across scripts. Output: per-lang kept counts; the
    // oracle refits the LM (x60's body), rounds identically, and
    // replays quantile + filter.
    "x125_quality_gate" -> ((s, dir) =>
      TextStats.relativeQualityGate(t(s, dir, "documents"),
          "doc_id", "text", "lang", keepAbovePercentile = 0.3, vocabSize = 20)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("lang"))),

    // Temporal train/test split at a fixed cutoff (the time-travel
    // leakage guard next to x49's hash split and x81's cluster split):
    // per-split event/user counts plus the in-plan no-leak audit
    // max(train ts) < min(test ts). A fixed cutoff, not a percentile —
    // the replayable choice (see temporalSplitAtFraction's caveat).
    "x123_temporal_split" -> ((s, dir) => {
      val tagged = Temporal.temporalSplit(Catalog.events(s, dir), "ts",
        to_timestamp(lit("2024-01-25 00:00:00")))
      val flag = tagged.agg(
        (max(when(col("split") === "train", col("ts"))) <
          min(when(col("split") === "test", col("ts")))).as("no_leak_ok"))
      tagged.groupBy(col("split"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(flag))
        .orderBy(col("split"))
    }),

    // Per-dimension standardization model of the embedding corpus: one
    // posexplode aggregation to (pos, mu, sd) — the normalizer embedding
    // pipelines fit before distance math. Exact oracle: DuckDB replays
    // the same per-position mean/stddev over the unnested arrays.
    "x121_embed_dim_stats" -> ((s, dir) =>
      Embeddings.dimStats(t(s, dir, "embeddings"), "embedding")
        // posexplode yields int positions; the oracle's range() is BIGINT
        .select(col("pos").cast("long").as("pos"),
          roundz(col("mu"), 6).as("mu"), roundz(col("sd"), 6).as("sd"))
        .orderBy(col("pos"))),

    // Top principal component by MATRIX-FREE distributed power iteration
    // (the data-dependent projection next to x65's JL): per iteration one
    // codegen'd vec_dot scan + one d-row shuffle; the driver holds 3·d
    // doubles, never a covariance. Property output (the x38/x65
    // convention): variance along PC1 must dominate every coordinate
    // axis (the defining property of the top PC — margins measured
    // 15%+ at all SFs), the projection of centered data must have zero
    // mean, and the returned direction must be unit norm.
    "x122_pca_top" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (mu, w, _) = Embeddings.topPrincipalComponent(emb, "embedding")
      val unitOk = math.abs(math.sqrt(w.map(x => x * x).sum) - 1.0) < 1e-9
      val maxAxisVar = Embeddings.dimStats(emb, "embedding")
        .agg(max(col("sd") * col("sd")).as("__axv"))
      Embeddings.pc1Project(emb, "embedding", mu, w)
        .agg(count(lit(1)).as("n_vecs"),
          var_samp(col("pc1")).as("__pv"), avg(col("pc1")).as("__pm"))
        .crossJoin(broadcast(maxAxisVar))
        .select(col("n_vecs"), lit(64).as("dims"),
          (col("__pv") >= col("__axv") * 0.999).as("pc1_dominates_axes_ok"),
          (abs(col("__pm")) < 1e-6).as("centered_ok"),
          lit(unitOk).as("unit_ok"))
    }),

    // Deterministic round-robin interleave across sources: global
    // position ≡ sourceIndex (mod nSources), per-source order a seeded
    // portable md5 shuffle — the training-ORDER contract (batches see
    // every source uniformly, reproducible from (seed, keys) alone).
    // Integer arithmetic end-to-end; the oracle replays rank and
    // position exactly.
    "x120_interleave" -> ((s, dir) =>
      Training.interleaveBySource(t(s, dir, "documents"), "doc_id", "source")
        .select(col("global_pos"), col("doc_id"), col("source"))
        .orderBy(col("global_pos"))
        .limit(100)),

    // Order-insensitive table fingerprint over the key/string columns of
    // orders: XOR-folds a portable per-row md5 hash, so two copies of a
    // table compare equal after any repartition/compaction/migration —
    // the 100 TB equality check with no sort and a 16-byte result. The
    // oracle replays the identical hash arithmetic in SQL.
    "x112_table_fingerprint" -> ((s, dir) =>
      graft.operators.Checks.tableFingerprint(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),

    // HITS hubs & authorities over the DIRECTED customer→supplier graph —
    // the bipartite rank pair PageRank's symmetrization discards: a good
    // hub (broad buyer) points at good authorities (widely-bought
    // suppliers) and vice versa. Un-normalized passes (normalization
    // commutes with the linear updates) keep every intermediate an EXACT
    // integer-valued double, so the only floating arithmetic is the final
    // normalize — deterministic to the ulp on both engines.
    "x113_hits" -> ((s, dir) => {
      val e0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      Graph.hits(e0, "src", "dst", iters = 3)
        .select(col("node"),
          roundz(col("hub") * 1000, 6).as("hub_x1000"),
          roundz(col("auth") * 1000, 6).as("auth_x1000"))
        .orderBy(col("node"))
    }),

    // Seeded PageRank (TrustRank): teleport mass lands only on the
    // European-supplier seed nodes, so rank = trust flowing outward from
    // the allowlist and decaying with link distance — the standard
    // source-quality propagation when a small allowlist is all the ground
    // truth a corpus has. Same cached-invariant loop as x105; the seed
    // set rides as a column on the cached node frame.
    "x111_trustrank" -> ((s, dir) => {
      val e0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "EUROPE")
        .select((col("s_suppkey") + lit(1000000L)).as("node"))
      Graph.personalizedPageRank(edges, "src", "dst", Some(seeds), iters = 3)
        .select(col("node"), roundz(col("rank") * 1000, 6).as("trust_x1000"))
        .orderBy(col("node"))
    }),

    // EXACT τ=0.5 Jaccard similarity join over the FULL corpus via the
    // prefix filter (All-Pairs/PPJoin) — the lossless scale path where
    // x13 bounds a broadcast slice and jaccardPairs' df-cut is lossy:
    // rarest-first canonical order puts boilerplate tokens in the
    // never-joined suffix, candidates stay near the true-pair count, and
    // the exact verify makes the result provably complete (the oracle
    // recomputes all τ-pairs from a naive posting join).
    "x106_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, shingleSize = 3)
        .orderBy(col("a"), col("b"))),

    // Mergeable aggregate state: per-source stats computed as TWO partial
    // states (even/odd doc halves) merged by the component-wise monoid and
    // finalized — must equal the oracle's single-pass recompute exactly.
    // The across-jobs partial/final algebra a standing 100 TB summary
    // needs: absorb a batch by merging group-sized states, never rescan
    // history.
    "x107_incremental_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merged = Stats.mergeStats(Seq("source"),
        Stats.partialStats(d.where(col("doc_id") % 2 === 0), Seq("source"), "n_chars"),
        Stats.partialStats(d.where(col("doc_id") % 2 === 1), Seq("source"), "n_chars"))
      Stats.finalizeStats(merged, Seq("source"))
        .select(col("source"), col("n"),
          col("sum").cast("long").as("sum_chars"),
          roundz(col("mean"), 4).as("mean_chars"),
          roundz(col("sd"), 4).as("sd_chars"),
          col("min").cast("long").as("min_chars"),
          col("max").cast("long").as("max_chars"))
        .orderBy(col("source"))
    }),

    // Directional containment join (|A∩B|/|A| ≥ 0.8): x106's asymmetric
    // sibling — finds docs that are near-SUBSETS of another (article
    // inside boilerplate page, quote-heavy doc vs its source), which
    // symmetric Jaccard misses whenever the container is much larger.
    // Contained side probes with its canonical prefix (lossless), the
    // container side indexes in full; exact verify.
    "x108_containment_join" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, shingleSize = 3)
        .orderBy(col("a"), col("b"))),

    // Exact-dup rate estimated from an md5 hash-bucket sample (8 of 64
    // buckets): duplicate groups land in sampled buckets WHOLE, so the
    // sampled ratio is an unbiased rate estimate at ~1/8 of the group-by
    // cost — corpus observability before committing to a full dedup pass.
    // The bucket predicate filters map-side before any shuffle; the md5
    // bucketing is engine-portable, so the oracle replays the exact sample.
    "x109_dup_rate" -> ((s, dir) =>
      Dedup.sampledDupRate(t(s, dir, "documents"), "text",
        buckets = 64, sampled = 8)),

    // Per-item mislabel audit (x102's row-level companion): each vector
    // scored against its OWN label prototype, 5 worst per label — the
    // re-annotation queue. Prototypes broadcast as literals, rank bounded
    // per label partition.
    "x110_label_outliers" -> ((s, dir) =>
      Similarity.labelOutliers(t(s, dir, "embeddings"), k = 5)
        .orderBy(col("label"), col("rn"))),

    // Bigram LM score (x60's order-sensitive sibling): mean log10
    // probability of each document's ADJACENT TOKEN PAIRS under the
    // corpus's own smoothed bigram distribution — scrambled-word junk
    // that passes the unigram screen fails this one.
    "x103_bigram_lp" -> ((s, dir) =>
      TextStats.bigramLogProb(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 20)
        .select(col("doc_id"), roundz(col("bigram_lp"), 6).as("bigram_lp"))
        .orderBy(col("doc_id"))),

    // Efraimidis–Spirakis weighted sample without replacement, 10 docs per
    // source weighted by length: priority u^(1/w) from the deterministic
    // md5 uniform, rounded so the oracle replays the exact ranking.
    // WindowGroupLimit keeps the map-side forward bounded, like x69.
    "x73_weighted_sample" -> ((s, dir) =>
      Training.weightedSampleNPerGroup(t(s, dir, "documents"), Seq("source"),
          "doc_id", "n_chars", nPerGroup = 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id"))),

    // Token-budget corpus mixing: whole docs per source in md5-rank order
    // until the source budget is spent (src3's zero budget keeps nothing;
    // unlisted sources keep nothing). The per-source prefix sum runs
    // bucketed (sources × 16 partitions), never as one serial window.
    "x74_token_budget_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tok", TextStats.tokenCount(col("text")).cast("long"))
      Training.tokenBudgetMix(d, "source", "doc_id", "n_tok",
          budgets = Map("src0" -> 800L, "src1" -> 500L, "src2" -> 300L, "src3" -> 0L))
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // Incremental SCD2: merge the last third of the change log into the
    // dimension built from the first two thirds — must equal the full
    // rebuild exactly (the oracle IS x54's full-rebuild SQL). Unaffected
    // keys pass through untouched; only batch keys replay.
    "x75_scd2_incremental" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val cut = "2024-01-20 00:00:00"
      // persisted: scd2Merge reads `existing` three times (anti, semi, max)
      val existing = Temporal.scd2(ev.where(col("ts") < cut),
          Seq("user_id"), "ts", Seq("event_type"), tieBreak = Seq("event_id"))
      Lifecycle.withCachedInputs(existing) {
        Temporal.scd2Merge(existing, ev.where(col("ts") >= cut),
            Seq("user_id"), "ts", Seq("event_type"), tieBreak = Seq("event_id"))
          .select(col("user_id"), col("event_type"), col("eff_from"),
            col("eff_to"), col("is_current"))
          .orderBy(col("user_id"), col("eff_from"), col("event_type"))
      }
    }),

    // Product quantization (m=8 × k=16 over 64 dims = 64× compression):
    // Lloyd-trained sub-codebooks, narrow-map encode, reconstruction
    // audited against the raw vectors in the same plan. The synthetic
    // embeddings are near-random (the hardest case for PQ), so the
    // distortion bound is mse/energy ≤ 0.75 — observed 0.56 (sf0.01) /
    // 0.60 (sf0.1), while a broken quantizer sits at ~1.0. The oracle
    // asserts the bound literally; EmbeddingsSpec pins codes and
    // exact-reconstruction cases.
    "x76_pq_quantize" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // train on a deterministic 25% hash-sample — at billion-vector scale
      // PQ codebooks always train on a sample; encode runs over everything
      val books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      val v = transform(col("embedding"), x => x.cast("double"))
      val enc = Embeddings.pqEncode(e, books)
        .withColumn("__recon", Embeddings.pqDecode(col("pq_codes"), books))
        .withColumn("__err",
          aggregate(zip_with(v, col("__recon"), (a, b) => (a - b) * (a - b)),
            lit(0.0d), (acc, x) => acc + x))
        .withColumn("__en",
          aggregate(v, lit(0.0d), (acc, x) => acc + x * x))
      enc.agg(count(lit(1)).as("n_vecs"),
          avg(col("__err")).as("__mse"), avg(col("__en")).as("__mean_en"))
        .select(col("n_vecs"), lit(8).as("m"), lit(16).as("k"),
          (col("__mse") <= col("__mean_en") * 0.75).as("mse_ratio_ok"))
    }),

    // PQ asymmetric-distance kNN with exact re-rank: the ADC pass over
    // compressed codes shortlists 50 per query, the exact top-5 comes
    // from re-ranking that shortlist against raw vectors — the IVF-PQ
    // production scheme. Checked as corpus-level recall-vs-brute like x9:
    // observed 0.55 (sf0.01) / 0.43 (sf0.1) on near-random vectors (ADC
    // alone ranks at 0.08-0.18 — the shortlist+re-rank IS the method),
    // floor 0.3.
    "x77_knn_pq_adc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      val books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      annRecallCheck(Embeddings.pqAdcKnn(e, q, books, k = 5, rerank = 50),
        Similarity.bruteForceKnn(e, q, k = 5), minRecall = 0.3)
    }),

    // IVF-PQ composed kNN: coarse cells prune the corpus, PQ codes score
    // the probed cells (ADC), exact re-rank finishes — the full
    // billion-vector serving shape. Two stacked approximations, so the
    // floor is 0.2; observed 0.43 (sf0.01) / 0.28 (sf0.1), deterministic
    // (seeded centroids + codebooks).
    "x78_knn_ivf_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      val books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      annRecallCheck(
        Embeddings.ivfPqKnn(e, q, books, k = 5, rerank = 50,
          nCentroids = 16, nProbe = 4),
        Similarity.bruteForceKnn(e, q, k = 5), minRecall = 0.2)
    }),

    // The ACTION side of x86: rebuild every document with its repeated
    // spans stripped — corpus-wide boilerplate removal as one shingle
    // pass + a narrow token-filter map. Oracle replays the same span
    // arithmetic and string reassembly; untouched docs must come back
    // byte-identical (hash compare covers the full rebuilt text).
    "x89_strip_repeated" -> ((s, dir) =>
      Dedup.stripRepeatedRuns(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"), col("text_clean"))
        .orderBy(col("doc_id"))),

    // Cross-document sequence dedup, KEEP-FIRST (Lee et al. 2021): x89
    // strips every occurrence of a repeated 8-gram run (boilerplate
    // semantics); this keeps the corpus-FIRST occurrence and strips the
    // rest — shared content survives exactly once. First-occurrence
    // detection is a min(struct(doc,pos)) aggregation (map-side partials,
    // hot-shingle safe), never a per-shingle window. Full rebuilt text
    // hash-verified against the oracle's replay.
    "x119_crossdoc_dedup" -> ((s, dir) =>
      Dedup.stripCrossdocDuplicates(t(s, dir, "documents"), "doc_id", "text",
          n = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"), col("text_clean"))
        .orderBy(col("doc_id"))),

    // Image perceptual-hash near-dup: real PNG payloads with PLANTED
    // near-identical twins (docs 2k / 2k+1 share a base pattern, the odd
    // twin one-block-perturbed → dHash hamming ≤ 2 BY CONSTRUCTION),
    // fingerprinted by the pure-JDK dHash and clustered through the same
    // banded-hamming + connected-components machinery text dedup uses.
    // Exact contract, not a floor: banding with bands > maxDist guarantees
    // recall 1 by pigeonhole, and distinct seeded bases sit ~32 bits apart,
    // so the verified pair set must equal the planted set — n_pairs is
    // exact arithmetic, pairs_planted_ok/clusters_ok are earned TRUEs.
    "x88_image_phash_neardup" -> ((s, dir) => {
      val assets = Multimodal.imageAssetsFromDocuments(s, t(s, dir, "documents"))
      val hashes = Multimodal.imageHashes(assets).where(col("decoded"))
      val pairs = Dedup.hammingPairs(hashes, "asset_id", "phash",
        maxDist = 3, bands = 4)
      // hashes is cached too: the body's n_assets count would otherwise
      // re-run the whole synthesize+decode pipeline a second time
      Lifecycle.withMaterialized(hashes, pairs) {
        val cl = Dedup.connectedComponents(pairs.select(col("a"), col("b")))
        val clusterStats = cl.groupBy(col("label")).agg(count(lit(1)).as("__sz"))
          .agg(count(lit(1)).as("__ncl"), max(col("__sz")).as("__mx"))
        val pairStats = pairs.agg(
          count(lit(1)).as("n_pairs"),
          (coalesce(sum(when(col("b") === col("a") + 1 && col("a") % 2 === 0, 1)
            .otherwise(0)), lit(0L)) === count(lit(1))).as("pairs_planted_ok"))
        hashes.agg(count(lit(1)).as("n_assets"))
          .crossJoin(broadcast(pairStats))
          .crossJoin(broadcast(clusterStats))
          .select(col("n_assets"), col("n_pairs"), col("pairs_planted_ok"),
            (col("__ncl") === col("n_pairs") && col("__mx") === 2).as("clusters_ok"))
      }
    }),

    // INCREMENTAL semantic dedup — x52's steady-state story for the x92
    // family: a new embedding batch decontaminates against a PRECOMPUTED
    // corpus sign-LSH bucket index (cosineLshIndex, stored once at
    // ingest), batch meeting corpus only through bucket keys (plan-pinned
    // — never corpus×batch). Planted, all SQL-replayable: cross-batch
    // exact copies of corpus vectors 0–49 (ids +100000) share every sign
    // bit with their source → recall 1 BY CONSTRUCTION → all die; negated
    // vectors of 50–99 (ids +200000) are cosine −1 from their source and
    // near nothing at 0.999 → survive; within-batch twins (ids +300000,
    // same negated vectors) ALSO survive — within-batch dedup is a
    // separate composable pass (x92 on the batch), exactly as in x52.
    "x94_incremental_semantic_dedup" -> ((s, dir) => {
      val corpus = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val neg = transform(col("embedding"),
        x => (x.cast("double") * -1.0d).cast("float"))
      val batch = corpus.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        .unionByName(corpus.where(col("vec_id") >= 50 && col("vec_id") < 100)
          .select((col("vec_id") + 200000L).as("vec_id"), neg.as("embedding")))
        .unionByName(corpus.where(col("vec_id") >= 50 && col("vec_id") < 60)
          .select((col("vec_id") + 300000L).as("vec_id"), neg.as("embedding")))
      val index = Similarity.cosineLshIndex(corpus)
      Similarity.incrementalSemanticDedup(batch, corpus, index, threshold = 0.999)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // STORED ANN index — the index AS TABLES (AnnIndex): one write pass
    // builds centroids/books/cell-PARTITIONED codes parquet; the serve is
    // training-free (no Lloyd, no encode — the expensive work happened at
    // write), reads the bounded quantizer+codebooks back, and scans ONLY
    // the probed cell directories: the probe list is a static partition
    // filter on the codes table (PlanSpec-pinned, the s9 mechanism applied
    // to an ANN index). nProbe 6 of 16 cells → ~6/16 of the codes on disk
    // (spill 2 doubles each list but the pruned FRACTION holds). The
    // quantizer is TRAINED at write (4 spherical k-means rounds) and each
    // vector spills into its 2 nearest cells — the same recall levers as
    // x87, paid once at build, amortized over every training-free serve.
    // Recall floor vs brute force set just under the measured margin
    // (deterministic: stored quantizer/books, tie-broken ranks) — same
    // contract family as x78/x87. Measured (RecallProbe): 0.875 / 0.825 /
    // 0.7 at sf0.001/0.01/0.1 — floor 0.65 sits under the weakest point.
    // Since round 14 a thin alias of the BUNDLE-backed store, the only
    // ANN index layout: writeBundle runs the deterministic
    // trainCentroids/encodeAssign, so the pinned recall floors held
    // across the move; the store protocol underneath is the atomic one.
    "x95_stored_ann_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      def books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      val root = s"/tmp/graft/x95_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      AnnIndex.writeBundle(e, books, root, "ann", nCentroids = 16,
        trainIters = 4, spill = 2, seedBatchIds = Seq("b0"))
      val ann = AnnIndex.knnBundle(s, root, "ann", e, q, k = 5,
        rerank = 150, nProbe = 6)
      annRecallCheck(ann, Similarity.bruteForceKnn(e, q, k = 5),
        minRecall = 0.65)
    }),

    // INCREMENTAL index maintenance (x96) — the stored index absorbs a
    // new vector batch WITHOUT retraining, the steady-state ingest path
    // of a serving corpus: build on 90% of the vectors, then
    // `AnnIndex.append` the held-out 10% — quantizer + codebooks read
    // back FROZEN, the batch encoded and cell-assigned through the
    // build's own expressions (shared encodeAssign, same spill), rows
    // landing as NEW FILES inside existing cell directories; nothing
    // rescans or rewrites the resident corpus. The serve then runs
    // against the merged index exactly as x95. Oracle-checked: result
    // shape, recall floor vs brute force over the FULL corpus (appended
    // vectors must be retrievable — a lost append under-returns them),
    // and appended_ok — the index's distinct id set covers the whole
    // corpus. Measured recall (deterministic): 0.925 / 0.875 / 0.775 at
    // sf0.001/0.01/0.1 — floor 0.7 under the weakest point.
    // Since round 14 a thin alias of the LEDGERED bundle append (x182
    // is the canonical bundle-store query): same frozen-quantizer
    // arithmetic (spill read back from the params member instead of
    // trusted to the caller), same oracle and recall floors.
    "x96_stored_index_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val base = e.where(col("vec_id") % 10 =!= 0)
      val batch = e.where(col("vec_id") % 10 === 0)
      val q = e.where(col("vec_id") < 8)
      def books = Embeddings.pqTrain(
        RelOps.hashSample(base, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      val root = s"/tmp/graft/x96_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      AnnIndex.writeBundle(base, books, root, "ann", nCentroids = 16,
        trainIters = 4, spill = 2, seedBatchIds = Seq("b0"))
      require(AnnIndex.appendBundle(s, root, "ann", batch, "b1"),
        "x96: bundle append did not land")
      val ann = AnnIndex.knnBundle(s, root, "ann", e, q, k = 5,
        rerank = 150, nProbe = 6)
      val appendedOk = Catalog.readBundleTable(s, root, "ann", "codes")
        .agg(countDistinct(col("vec_id")).as("__n_idx"))
        .crossJoin(e.agg(count(lit(1)).as("__n_corpus")))
        .select((col("__n_idx") === col("__n_corpus")).as("appended_ok"))
      annRecallCheck(ann, Similarity.bruteForceKnn(e, q, k = 5),
          minRecall = 0.7)
        .crossJoin(broadcast(appendedOk))
    }),

    // BALANCED SHARDS (x97) — the shard-writer contract: a deterministic
    // seeded corpus shuffle with EXACTLY balanced shard sizes (±1, the
    // low shards carry the remainder), via the distributed two-pass rank
    // (range-partition on the hash, local row_number, bounded per-
    // partition offsets — no single-partition window anywhere). The
    // oracle replays the arithmetic: with n docs dealt round-robin in
    // hash order, shard s holds n/16 (+1 if s < n mod 16) rows — exact
    // counts, not an expectation, which is precisely what hash(key) mod k
    // CANNOT promise. Membership itself is seeded-hash order (not SQL-
    // replayable); balance and totals are.
    "x97_balanced_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Training.balancedShards(docs, "doc_id", nShards = 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("shard"))
    }),

    // SEMANTIC dedup (SemDeDup shape): embedding-cosine near-dup pairs
    // (sign-LSH buckets, x10 machinery) → CC clusters → keep the min-id
    // member per cluster. Planted: exact copies of the first 50 vectors
    // under shifted ids — identical vectors share every LSH sign bit, so
    // bucketing recall on the planted pairs is 1 BY CONSTRUCTION, and at
    // threshold 0.999 no distinct corpus vectors pair up. The exact
    // contract: every original survives, every planted copy dies — the
    // surviving id list IS the embeddings id list, hash-compared.
    "x92_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.where(col("vec_id") < 50)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val pairs = Similarity.cosineNearDupPairs(corpus, threshold = 0.999,
          idCol = "vec_id")
        .select(col("a"), col("b"))
      val cc = Dedup.connectedComponents(pairs)
        .select(col("id").as("vec_id"), col("label").as("__cluster"))
      val clustered = corpus.join(cc, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("__cluster"), col("vec_id")).as("__cluster"))
      val best = clustered.groupBy(col("__cluster"))
        .agg(min(col("vec_id")).as("vec_id"))
      clustered.join(best, Seq("__cluster", "vec_id"), "left_semi")
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // MULTIMODAL dedup clusters — the round-7 composition: a document is a
    // duplicate if its TEXT is near-dup (MinHash-LSH + exact-Jaccard
    // verify, x2/x41 machinery) OR its attached IMAGE is near-dup (dHash +
    // banded hamming, x88 machinery); one CC pass over the UNION of both
    // edge sets labels every doc with its multimodal cluster. The oracle
    // replays text edges as exact O(n²) Jaccard (x41 recipe), image edges
    // as the planted even/odd arithmetic, and the closure as a recursive
    // CTE — the full 500-row (doc_id, cluster_id) map is hash-compared.
    "x91_multimodal_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val textPairs = pairTruth(s, dir).select(col("a"), col("b"))
      val imgPairs = Dedup.hammingPairs(
          Multimodal.imageHashes(Multimodal.imageAssetsFromDocuments(s, docs))
            .where(col("decoded")),
          "asset_id", "phash", maxDist = 3, bands = 4)
        .select(col("a"), col("b"))
      val cc = Dedup.connectedComponents(textPairs.unionByName(imgPairs))
      docs.select(col("doc_id"))
        .join(cc.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // Video perceptual-hash near-dup — completes the modality dedup matrix
    // (text x2/x41, image x88, audio x90, embedding x92): real MJPEG-in-AVI
    // twins (docs 2k / 2k+1 share a frame-luma pattern, the odd twin
    // one-frame-perturbed → temporal fingerprint hamming ≤ 2 BY
    // CONSTRUCTION), decoded frame-by-frame (x15's decodeAvi), hashed by
    // the luma-envelope sign fingerprint, and clustered through the same
    // banded-hamming + CC machinery. Same exact contract as x88/x90:
    // pigeonhole recall 1, splitmix bases ~32 bits apart, so n_pairs is
    // exact planted arithmetic and the booleans are earned TRUEs.
    "x93_video_phash_neardup" -> ((s, dir) => {
      val assets = Multimodal.videoPairAssetsFromDocuments(s, t(s, dir, "documents"))
      val hashes = Multimodal.videoHashes(assets).where(col("decoded"))
      val pairs = Dedup.hammingPairs(hashes, "asset_id", "vhash",
        maxDist = 3, bands = 4)
      // hashes is cached too: the body's n_assets count would otherwise
      // re-run the whole synthesize+decode pipeline a second time
      Lifecycle.withMaterialized(hashes, pairs) {
        val cl = Dedup.connectedComponents(pairs.select(col("a"), col("b")))
        val clusterStats = cl.groupBy(col("label")).agg(count(lit(1)).as("__sz"))
          .agg(count(lit(1)).as("__ncl"), max(col("__sz")).as("__mx"))
        val pairStats = pairs.agg(
          count(lit(1)).as("n_pairs"),
          (coalesce(sum(when(col("b") === col("a") + 1 && col("a") % 2 === 0, 1)
            .otherwise(0)), lit(0L)) === count(lit(1))).as("pairs_planted_ok"))
        hashes.agg(count(lit(1)).as("n_assets"))
          .crossJoin(broadcast(pairStats))
          .crossJoin(broadcast(clusterStats))
          .select(col("n_assets"), col("n_pairs"), col("pairs_planted_ok"),
            (col("__ncl") === col("n_pairs") && col("__mx") === 2).as("clusters_ok"))
      }
    }),

    // Audio perceptual-hash near-dup: the x88 construction on the audio
    // column — amplitude-modulated WAV twins (docs 2k / 2k+1 share an
    // envelope pattern, the odd twin one-window-perturbed → fingerprint
    // hamming ≤ 2 BY CONSTRUCTION), fingerprinted by the energy-envelope
    // sign hash and clustered through the same banded-hamming + CC
    // machinery. Same exact contract: pigeonhole recall 1, seeded bases
    // ~32 bits apart, so n_pairs is exact planted arithmetic.
    "x90_audio_fp_neardup" -> ((s, dir) => {
      val assets = Multimodal.audioPairAssetsFromDocuments(s, t(s, dir, "documents"))
      val hashes = Multimodal.audioHashes(assets).where(col("decoded"))
      val pairs = Dedup.hammingPairs(hashes, "asset_id", "ahash",
        maxDist = 3, bands = 4)
      // hashes is cached too: the body's n_assets count would otherwise
      // re-run the whole synthesize+decode pipeline a second time
      Lifecycle.withMaterialized(hashes, pairs) {
        val cl = Dedup.connectedComponents(pairs.select(col("a"), col("b")))
        val clusterStats = cl.groupBy(col("label")).agg(count(lit(1)).as("__sz"))
          .agg(count(lit(1)).as("__ncl"), max(col("__sz")).as("__mx"))
        val pairStats = pairs.agg(
          count(lit(1)).as("n_pairs"),
          (coalesce(sum(when(col("b") === col("a") + 1 && col("a") % 2 === 0, 1)
            .otherwise(0)), lit(0L)) === count(lit(1))).as("pairs_planted_ok"))
        hashes.agg(count(lit(1)).as("n_assets"))
          .crossJoin(broadcast(pairStats))
          .crossJoin(broadcast(clusterStats))
          .select(col("n_assets"), col("n_pairs"), col("pairs_planted_ok"),
            (col("__ncl") === col("n_pairs") && col("__mx") === 2).as("clusters_ok"))
      }
    }),

    // FILTERED ANN — the retrieval-corpus query shape: top-k among
    // candidates matching a metadata predicate (label < 5), with ONE
    // shared IVF-PQ index (quantizer pinned, codes persisted) and the
    // predicate pruning the inverted lists UNDER the cell-probe join
    // (plan-pinned), never post-filtering the top-k. Oracle-checked
    // properties: result shape, recall floor vs FILTERED brute force, and
    // filter_ok — every returned neighbor must satisfy the predicate
    // (a post-filter-shaped regression flips recall_ok; a filter-lost
    // regression flips filter_ok). The quantizer is TRAINED (4 spherical
    // k-means rounds over the decoded index frame) and candidates spill
    // into their 2 nearest cells, so nProbe 6/16 reaches boundary vectors
    // from either side; the ADC pass shortlists 150 for the exact rerank.
    // Measured recall (deterministic: seeded quantizer/codebooks,
    // tie-broken ranks): 0.75 / 0.825 / 0.85 at sf0.001/0.01/0.1 — floor
    // 0.7 sits under the weakest point with real margin, so a probe-path
    // regression (broken cell-prune, lost spill, post-filter under-return)
    // trips it while the seeded pipeline keeps its slack.
    "x87_filtered_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      val pred = col("label") < 5
      val books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      // filteredIvfPqKnn returns a persisted, materialized frame (its own
      // index intermediate is already unpersisted — graft.Lifecycle); the
      // two references below hit that cache, and Verify/Bench clearCache it.
      val ann = Embeddings.filteredIvfPqKnn(e, pred, q, books, k = 5,
        rerank = 150, nCentroids = 16, nProbe = 6, trainIters = 4, spill = 2)
      val filterOk = ann
        .join(e.select(col("vec_id").as("nid"), col("label")), Seq("nid"))
        .agg((count(lit(1)) === sum(when(col("label") < 5, 1).otherwise(0)))
          .as("filter_ok"))
      annRecallCheck(ann,
          Similarity.bruteForceKnn(e.where(pred), q, k = 5), minRecall = 0.7)
        .crossJoin(broadcast(filterOk))
    }),

    // Leakage-safe split: hashSplit keyed by the NEAR-DUP CLUSTER id, so a
    // test doc's paraphrase can never land in train — the contamination
    // guard a row-keyed split cannot give. SQL-verifiable properties: the
    // doc spine and counts are exact; purity (one split per cluster) and
    // hash-balance of the train fraction are literal-TRUE bound flags
    // (clusters themselves aren't SQL-replayable — seeded MinHash).
    "x81_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cl = Dedup.clustersFromPairs(docs, pairTruth(s, dir), "doc_id")
      val split = Training.hashSplit(
        docs.join(cl, Seq("doc_id")), "cluster_id")
      Lifecycle.withMaterialized(split) {
        val checks = split.groupBy(col("cluster_id"))
          .agg(countDistinct(col("split")).as("__n_splits"))
          .agg(
            (max(col("__n_splits")) === 1).as("purity_ok"),
            count(lit(1)).as("n_clusters"))
        val frac = split.agg(
          count(lit(1)).as("n_docs"),
          (sum(when(col("split") === "train", 1).otherwise(0))
            .between(count(lit(1)) * 0.7, count(lit(1)) * 0.9)).as("train_frac_ok"))
        frac.crossJoin(broadcast(checks))
          .select(col("n_docs"), col("n_clusters"), col("purity_ok"),
            col("train_frac_ok"))
      }
    }),

    // Robust standardization: (x − median) / (1.4826·MAD) — the
    // outlier-resistant z-score. Two exact-percentile broadcasts, no
    // data shuffle; the oracle replays the same interpolated quantiles.
    "x79_robust_scale" -> ((s, dir) =>
      Stats.robustScale(t(s, dir, "lineitem"), "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          roundz(col("robust_z"), 4).as("robust_z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // Per-group OLS trend (closed-form regr_* aggregates): value drift per
    // event type over the month — both engines compute the same
    // sum-of-products math, map-side partial-agged.
    "x80_trend_per_type" -> ((s, dir) =>
      Catalog.events(s, dir)
        .withColumn("x", datediff(col("ts"), lit("2024-01-01")).cast("double"))
        .groupBy(col("event_type"))
        .agg(
          roundz(expr("regr_slope(value, x)"), 4).as("slope"),
          roundz(expr("regr_intercept(value, x)"), 4).as("intercept"),
          expr("regr_count(value, x)").as("n"))
        .orderBy(col("event_type"))),

    // TPC-H Q6 shape: every predicate (date range, discount band, quantity)
    // pushes into the parquet scan — the forecast-revenue aggregate then
    // reads a fraction of the table. PlanSpec pins the pushdown.
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(roundz(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))),

    // Correlated scalar subquery through the SQL surface — Catalyst
    // decorrelates it into an aggregate + join, not a per-row re-scan.
    "q5_corr_subquery" -> ((s, dir) => {
      Catalog.registerViews(s, dir, Seq("orders"))
      s.sql("""SELECT o_custkey, count(*) AS n_above
              |FROM orders o
              |WHERE o_totalprice > (SELECT avg(o2.o_totalprice)
              |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
              |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    }),

    // STORED inverted text index (x129) — ranked retrieval's build path,
    // the text twin of x95: one tokenize pass lands (term, doc, tf, dl)
    // postings PARTITIONED BY md5-shard(term), so a query's shards are
    // driver-planned from its own terms and the postings scan reads ONLY
    // those directories (static partition prune, TextIndexSpec-pinned —
    // 3 query terms touch ≤ 3/16 of the index on disk at any corpus
    // size). Conjunctive serve: docs holding ALL query terms — exact set
    // semantics the oracle replays from raw text.
    // Since round 14 a thin alias of the BUNDLE-backed store (x186 is
    // the canonical bundle-store query): same postings pass, same
    // shard-pruned serve, same oracle — the store protocol underneath is
    // atomic.
    "x129_stored_text_index" -> ((s, dir) => {
      val root = s"/tmp/graft/x129_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      TextIndex.writeBundle(t(s, dir, "documents"), root, "tix",
        seedBatchIds = Seq("b0"))
      TextIndex.booleanSearchBundle(s, root, "tix",
          Seq("join", "hash", "vector"))
        .orderBy(col("doc_id"))
    }),

    // BM25 top-k (x130) over the same stored index — the classic ranked
    // retrieval serve: Lucene-default BM25 (k1=1.2, b=0.75), idf from the
    // term's shard-resident df (= global df, a term lives in one shard),
    // N/avgdl from the bounded meta row. Each term score is rounded and
    // scaled to an exact ×10⁴ long BEFORE the per-doc sum, so doc scores
    // are order-free integer sums (no float-summation flake between
    // engines), and the top-k is a distributed TakeOrdered — never a
    // global window over the candidate set.
    // Bundle alias since round 14 (see x129): BM25's N/avgdl sum from
    // the manifest's meta deltas, postings and meta resolved at ONE
    // pinned version; per-term arithmetic and oracle unchanged.
    "x130_bm25_search" -> ((s, dir) => {
      val root = s"/tmp/graft/x130_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      TextIndex.writeBundle(t(s, dir, "documents"), root, "tix",
        seedBatchIds = Seq("b0"))
      TextIndex.bm25SearchBundle(s, root, "tix",
          Seq("join", "hash", "vector"), k = 10)
        .orderBy(col("rank"))
    }),

    // Mergeable QUANTILE state (x131) — x107's companion for the one
    // statistic moments can't give: per-key equi-width histogram vectors
    // (64 bins over [0, 600000)) built as TWO partial states (even/odd
    // orderkey halves), merged by element-wise long addition, quantiles
    // then interpolated from the merged counts. Exact-rank percentile
    // sorts history and cannot merge; approx_percentile sketches aren't
    // engine-replayable; the histogram monoid is both mergeable AND
    // bit-replayable (integer bins, deterministic interpolation) — the
    // standing-profile shape a 100 TB corpus absorbs batches into.
    "x131_mergeable_quantiles" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val keys = Seq("o_orderpriority")
      val merged = Stats.mergeHist(keys, bins = 64,
        Stats.partialHist(o.where(col("o_orderkey") % 2 === 0), keys,
          "o_totalprice", lo = 0.0, hi = 600000.0, bins = 64),
        Stats.partialHist(o.where(col("o_orderkey") % 2 === 1), keys,
          "o_totalprice", lo = 0.0, hi = 600000.0, bins = 64))
      Stats.histQuantiles(merged, keys, lo = 0.0, hi = 600000.0, bins = 64,
          qs = Seq(0.5, 0.9))
        .select(col("o_orderpriority"), col("n"),
          roundz(col("p50"), 4).as("p50_est"),
          roundz(col("p90"), 4).as("p90_est"))
        .orderBy(col("o_orderpriority"))
    }),

    // Duplicate n-gram occupancy (x132) — the corpus-quality METRIC the
    // strip/dedup family acts on: per doc, the fraction of its 5-gram
    // occurrences that appear anywhere else in the corpus (count ≥ 2,
    // occurrences not distinct docs) — the standard web-corpus
    // boilerplate/duplication signal, scored without rewriting anything
    // (x89/x119 are the ACTION side). One shingle pass + one count
    // shuffle + one per-doc aggregate; short docs (< 5 tokens) score 0.
    "x132_dup_gram_fraction" -> ((s, dir) =>
      Dedup.duplicateGramStats(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minCount = 2)
        .orderBy(col("doc_id"))),

    // Phrase search (x133) — the positional serve boolean AND can't
    // express: "table hash" as ADJACENT tokens, not co-occurrence.
    // Positions ride on the postings Lucene-style; slot i's positions
    // shift by −i and a doc matches once per position common to all
    // slots. Same driver-planned shard prune as every serve; |phrase|
    // rows broadcast. Oracle replays adjacency from the raw token list.
    // Bundle alias since round 14 (see x129): shared phraseCore, same
    // positional-intersection serve and oracle.
    "x133_phrase_search" -> ((s, dir) => {
      val root = s"/tmp/graft/x133_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      TextIndex.writeBundle(t(s, dir, "documents"), root, "tix",
        seedBatchIds = Seq("b0"))
      TextIndex.phraseSearchBundle(s, root, "tix", Seq("table", "hash"))
        .orderBy(col("doc_id"))
    }),

    // Incremental index maintenance (x134) — x96's text twin: base index
    // over 4/5 of the corpus, the remaining 1/5 arrives as a batch that
    // is tokenized ALONE and appended into the existing shard
    // directories (base posting files never rewritten —
    // TextIndexSpec pins file-level append); meta re-derives from the
    // combined postings so BM25's N/avgdl/df see one corpus. Serve after
    // append ≡ full rebuild (disjoint doc batches ⇒ same posting rows).
    // Oracle replays BM25 over the FULL corpus from raw text.
    // Since round 14 a thin alias of the LEDGERED bundle append (x186
    // is the canonical bundle-store query): the batch's postings and
    // its meta delta publish in one manifest rename — the flat path's
    // postings-append → meta-rewrite gap is gone; serve and oracle
    // unchanged (disjoint doc batches ⇒ same posting rows).
    "x134_text_index_append" -> ((s, dir) => {
      val root = s"/tmp/graft/x134_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val docs = t(s, dir, "documents")
      TextIndex.writeBundle(docs.where(col("doc_id") % 5 =!= 0), root,
        "tix", seedBatchIds = Seq("b0"))
      require(TextIndex.appendBundle(s, root, "tix",
        docs.where(col("doc_id") % 5 === 0), "b1"),
        "x134: bundle append did not land")
      TextIndex.bm25SearchBundle(s, root, "tix",
          Seq("scan", "merge", "vector"), k = 10)
        .orderBy(col("rank"))
    }),

    // Markov transition matrix (x135) — P(next | prev) over per-user
    // event sequences, (ts, event_id)-ordered: the path-analysis summary
    // behind "what happens after X". One user-key shuffle carries the
    // weight; normalization is a window over the |types|² count rows,
    // bounded by the type vocabulary. Exact long counts; p rounds to 6
    // after the division so the oracle replays bit-for-bit.
    "x135_event_transitions" -> ((s, dir) =>
      Behavior.transitions(Catalog.events(s, dir))
        .orderBy(col("prev_type"), col("next_type"))),

    // Cross-source duplication matrix (x136) — WHICH feeds mirror WHICH:
    // every exact-verified near-dup pair (x2's machinery and provably its
    // pair set) maps to its unordered (source, source) cell; heavy
    // off-diagonal = two feeds mirror each other, heavy diagonal = a feed
    // re-crawls itself. Pair-keyed source join (scales with pairs, not
    // corpus²); share normalizes over ≤|sources|² cells.
    "x136_cross_source_dup_share" -> ((s, dir) =>
      Dedup.crossSourceDupShareFromPairs(pairTruth(s, dir),
          t(s, dir, "documents"), "doc_id", "source")
        .orderBy(col("source_a"), col("source_b"))),

    // Gate agreement (x137) — Cohen's kappa between two INDEPENDENT doc
    // filters: the heuristic quality gate (x5's score ≥ 0.75) and the
    // duplication gate (x132's dup_frac ≤ 0.5). κ near 0 with both
    // gates mostly-true means they pass different docs — keep both; κ
    // near 1 means one is redundant. Exact quarter/round-4 cutoffs (no
    // float-boundary flake); one full-scan agg to four long cells.
    "x137_gate_agreement" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = TextStats.withQualityScore(docs, "text", as = "__q")
        .select(col("doc_id"), (col("__q") >= 0.75).as("gate_quality"))
      val d = Dedup.duplicateGramStats(docs, "doc_id", "text",
          n = 5, minCount = 2)
        .select(col("doc_id"), (col("dup_frac") <= 0.5).as("gate_dup"))
      Stats.cohenKappa(q.join(d, Seq("doc_id")), "gate_quality", "gate_dup")
    }),

    // NB confidence calibration (x138) — before x116's classifier gates
    // anything, does a bigger top-2 margin actually mean a more reliable
    // prediction? Margins in exact ×10⁶ longs (order-free integer bin
    // sums), 10 fixed 0.25-wide bins, accuracy per bin. The oracle
    // refits the same model in SQL and replays margins bit-for-bit.
    "x138_nb_calibration" -> ((s, dir) =>
      TextStats.naiveBayesCalibration(t(s, dir, "documents"),
          "doc_id", "text", "lang")
        .orderBy(col("bin"))),

    // Join pre-flight (x139) — the EXACT |A ⋈ B| without running the
    // join: Σ_k c_A(k)·c_B(k) over two map-side-combined count tables
    // (|keys| rows each). Says whether the 100 TB shuffle join is safe,
    // explosive, or skewed (top contributor rides out of the same
    // aggregate) BEFORE the shuffle is paid.
    "x139_join_size_estimate" -> ((s, dir) =>
      RelOps.joinSizeEstimate(t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey")),

    // Z-order key (x140) — two-column clustering for min/max file
    // skipping: the Morton interleave of (o_custkey, price-decade), the
    // layout key `Layout.zorderRepartition` range-partitions by so each
    // landed file is bounded in BOTH dimensions (LayoutSpec pins the
    // pruning win over a single-column sort). Declared as the key map —
    // pure codegen'd bit arithmetic; the oracle evaluates the SAME
    // generated expression (one generator builds both sides).
    "x140_zorder_key" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        graft.operators.Layout.zValue(col("o_custkey"),
          floor(col("o_totalprice") / 10.0).cast("long"), bits = 16).as("z"))
        .orderBy(col("o_orderkey"))),

    // Durable histogram state (x141) — x131's quantile monoid lifted to a
    // stored table, mergeStatsTable's twin: three disjoint batches fold
    // into the table one at a time (first write, then two upserts that
    // semi-join down to affected groups), and quantiles interpolate from
    // the STORED counts. The steady-state cost of "quantiles over 100 TB
    // + today's batch" = one batch scan + a group-sized merge; the
    // oracle replays a single pass over the union.
    "x141_hist_state_table" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val root = s"/tmp/graft/x141_state_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val keys = Seq("l_returnflag")
      def ph(d: DataFrame) =
        Stats.partialHist(d, keys, "l_quantity", lo = 0.0, hi = 50.0, bins = 25)
      Seq(0, 1, 2).foreach { m =>
        Stats.mergeHistTable(s, root, "hist",
          ph(li.where(col("l_orderkey") % 3 === m)), keys, bins = 25)
      }
      Stats.histQuantiles(Catalog.table(s, root, "hist"), keys,
          lo = 0.0, hi = 50.0, bins = 25, qs = Seq(0.5, 0.95))
        .select(col("l_returnflag"), col("n"),
          roundz(col("p50"), 4).as("p50_est"),
          roundz(col("p95"), 4).as("p95_est"))
        .orderBy(col("l_returnflag"))
    }),

    // Triangle census (x142) — how cliquish the near-dup graph is: many
    // triangles = tight duplicate families (keep-one-per-clique dedup is
    // safe); triangle-free chains = borderline matches where transitive
    // clustering over-merges. Degree-ordered orientation keeps the wedge
    // join skew-safe on hub keys; the count is orientation-invariant, so
    // the oracle replays it id-ordered over the exact pair truth.
    "x142_triangle_census" -> ((s, dir) =>
      Graph.triangleStats(
        pairTruth(s, dir).select(col("a").as("src"), col("b").as("dst")))),

    // Event-RATE anomalies (x143) — x19/valueAnomalies' volume sibling:
    // an hour whose event COUNT sits ≥2σ from that type's own per-hour
    // distribution (burst/outage), even when every value is normal.
    // Moments from EXACT integer sums (no float-order flake), z rounded
    // before the flag; degenerate types (<2 hours, zero variance) flag
    // null, not false.
    "x143_rate_anomalies" -> ((s, dir) =>
      Behavior.rateAnomalies(Catalog.events(s, dir), zThresh = 2.0)
        .orderBy(col("event_type"), col("hour"))),

    // FD audit (x144) — does the key DETERMINE each column? The schema
    // question behind denormalized wide tables: per-line columns vary
    // within an order (violations localize where), which is exactly what
    // to know before normalizing "per-order" columns out of a 100 TB
    // fact table. One groupBy(key) pass carries every dependent.
    "x144_fd_audit" -> ((s, dir) =>
      graft.operators.Checks.fdAudit(t(s, dir, "lineitem"),
          keys = Seq("l_orderkey"),
          deps = Seq("l_returnflag", "l_linestatus", "l_suppkey"))
        .orderBy(col("rule"))),

    // Funnel latency (x145) — after x56's "how many convert": how LONG
    // each step takes. Latencies are exact integer-microsecond diffs of
    // the SAME first-touch chain x56 counts (one shared stageReach —
    // the two views cannot disagree); per-pair percentiles run the
    // adaptive exact machinery (x20's), never a users-sized buffer per
    // group. Oracle replays the chain as nested after-t mins.
    "x145_funnel_latency" -> ((s, dir) =>
      Behavior.funnelLatency(Catalog.events(s, dir),
          Seq("view", "click", "purchase"))
        .select(col("stage_from"), col("stage_to"), col("n"),
          roundz(col("p50_us"), 4).as("p50_us"),
          roundz(col("p90_us"), 4).as("p90_us"))
        .orderBy(col("stage_from"))),

    // Stable ids (x146) — contiguous 1..n surrogate keys in sort order
    // WITHOUT the single-task global window every naive row_number()
    // plans: range-partition (distributed sort), per-partition counts →
    // driver offsets (#partitions rows), number within partitions.
    // PlanSpec pins that no window runs on one task. Sort key must be a
    // total order (doc_id rides after source).
    "x146_stable_ids" -> ((s, dir) =>
      RelOps.assignStableIds(t(s, dir, "documents"),
          Seq("source", "doc_id"))
        .select(col("row_id"), col("doc_id"), col("source"))
        .orderBy(col("row_id"))),

    // Stored decontamination index (x147) — x42's build/serve split: the
    // benchmark's distinct 8-gram set persists ONCE (shingle strings,
    // md5-sharded); every corpus screen after that reads the store
    // instead of re-shingling the benchmark — the steady-state shape for
    // screening a growing corpus against a fixed eval suite. Same
    // result as the direct operator (the store IS the benchmark-side
    // intermediate); the oracle replays the direct semantics.
    "x147_stored_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = s"/tmp/graft/x147_index_${storeTag(dir)}"
      Dedup.writeShingleIndex(docs.where(col("doc_id") % 10 === 0), idx,
        "doc_id", "text", shingleSize = 8)
      Dedup.contaminationAgainstIndex(docs, idx, "doc_id", "text",
          shingleSize = 8)
        .orderBy(col("doc_id"))
    }),

    // Benchmark-version append (x148) — the store grows without a
    // rebuild, and the anti-join is the load-bearing part: the serve
    // counts hits through a join, so a shingle stored twice (benchmarks
    // share boilerplate) would double every doc's contamination count.
    // Build on v1 (doc_id % 20 = 0), append v2 (% 20 = 10), serve — the
    // oracle replays the DIRECT screen over the union benchmark.
    "x148_decontamination_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = s"/tmp/graft/x148_index_${storeTag(dir)}"
      Dedup.writeShingleIndex(docs.where(col("doc_id") % 20 === 0), idx,
        "doc_id", "text", shingleSize = 8)
      Dedup.appendShingleIndex(docs.where(col("doc_id") % 20 === 10), idx,
        "doc_id", "text", shingleSize = 8)
      Dedup.contaminationAgainstIndex(docs, idx, "doc_id", "text",
          shingleSize = 8)
        .orderBy(col("doc_id"))
    }),

    // Metadata-only profile (x149) — row count and a column's min/max
    // from parquet FOOTERS alone, zero data pages read: the instant
    // pre-flight before touching a 100 TB table, and the production
    // verifier for clustered layouts. Footers are read on the
    // EXECUTORS; the oracle replays the same facts the slow way (a
    // scan) — metadata and data must agree.
    "x149_metadata_stats" -> ((s, dir) =>
      Catalog.footerStats(s, dir, "documents", "doc_id")
        .select(col("n_rows"), col("min_value").as("min_doc_id"),
          col("max_value").as("max_doc_id"))),

    // Z-order layout verified from FOOTERS end-to-end (x154) — x149
    // reads a generic table's metadata; this composes the two layout
    // tools: write orders Z-ordered on (custkey, totalprice), then read
    // ONLY the per-file footer stats back and check the clustering
    // contract from metadata alone — totals/bounds must equal the data
    // (oracle scans the flat table), and the mean per-file span on BOTH
    // dimensions must be narrow (< 0.75 of the global span; Z-order's
    // whole point vs lexicographic sort, which narrows only its leading
    // column — 16 files at 2×16-bit interleave land near 0.25-0.5 with
    // margin for range-boundary straddle). One-row broadcast cross of
    // the two single-row profiles; footers are read on executors.
    "x154_zorder_footer_profile" -> ((s, dir) => {
      val sfTag = storeTag(dir).replace(".", "_")
      val ref = s"x154_zorder_$sfTag"
      Catalog.writeZOrdered(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        "/tmp/graft", ref, Seq("o_custkey", "o_totalprice"), nFiles = 16)
      def profile(c: String) =
        Catalog.footerFileStats(s, "/tmp/graft", ref, c)
          .agg(sum(col("n_rows")).as("n_rows"),
            min(col("min_value")).as("mn"), max(col("max_value")).as("mx"),
            (avg((col("max_value") - col("min_value")).cast("double")) /
              (max(col("max_value")) - min(col("min_value"))).cast("double"))
              .as("frac"))
      val ck = profile("o_custkey")
      val tp = profile("o_totalprice")
      ck.select(col("n_rows"), col("mn").as("min_custkey"),
          col("mx").as("max_custkey"),
          (col("frac") < 0.75).as("custkey_narrow"))
        .crossJoin(broadcast(
          tp.select((col("frac") < 0.75).as("totalprice_narrow"))))
    }),

    // Source health report (x150) — the one-query dashboard the library
    // composes to: per feed, volume (docs, tokens), heuristic quality
    // (x5's score), and duplication load (x132's dup-gram fraction).
    // Both means ride as EXACT scaled-long sums before the division —
    // a float mean over millions of docs is summation-order-dependent;
    // integer sums are not. One narrow quality/token map + the dup
    // shingle pipeline + a doc-keyed join + one source-keyed aggregate.
    "x150_source_health" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = TextStats.withQualityScore(docs, "text", as = "__q")
        .select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).cast("long").as("__tok"),
          round(col("__q") * 100, 0).cast("long").as("__qx"))
      val d = Dedup.duplicateGramStats(docs, "doc_id", "text",
          n = 5, minCount = 2)
        .select(col("doc_id"),
          round(col("dup_frac") * 10000, 0).cast("long").as("__dx"))
      q.join(d, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          roundz(sum(col("__qx")).cast("double")
            / count(lit(1)) / 100.0, 6).as("mean_quality"),
          roundz(sum(col("__dx")).cast("double")
            / count(lit(1)) / 10000.0, 6).as("mean_dup_frac"))
        .orderBy(col("source"))
    }),

    // Type-token ratio per source (x151) — the classic lexical-diversity
    // signal x150's dup fraction complements: a feed whose TTR collapses
    // is templated/machine-generated even when no exact n-gram repeats
    // (dup_frac blind spot). One explode + one aggregate; the distinct
    // count partial-aggregates map-side per (source, token) before the
    // single shuffle. Exact integer counts; only the final ratio divides.
    "x151_type_token_ratio" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          explode(TextStats.tokens(lower(col("text")))).as("__tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("__tok")).as("n_types"))
        .withColumn("ttr",
          roundz(col("n_types").cast("double") / col("n_tokens"), 6))
        .orderBy(col("source"))),

    // Stored near-dup LSH index (x152) — x52's steady-state story,
    // completing the stored-index matrix (ANN x95/x96, text x129/x134,
    // decontamination x147/x148): the corpus's bucket signatures persist
    // ONCE (band-partitioned), an ingested batch APPENDS (batch-sized
    // signature pass — the corpus is never re-signatured), and a new
    // batch is matched against the store. The oracle replays the exact
    // O(batch×corpus) Jaccard truth, so serve-off-store recall is
    // checked end-to-end exactly as in x2/x52.
    "x152_stored_lsh_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = s"/tmp/graft/x152_index_${storeTag(dir)}"
      Dedup.writeLshIndex(docs.where(col("doc_id") % 5 < 3), idx,
        "doc_id", "text")
      Dedup.appendLshIndex(docs.where(col("doc_id") % 5 === 3), idx,
        "doc_id", "text")
      Dedup.matchesAgainstLshIndex(docs.where(col("doc_id") % 5 === 4),
          docs.where(col("doc_id") % 5 =!= 4), idx, "doc_id", "text",
          threshold = 0.9)
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // Trained BPE tokenizer (x153) — distributed vocabulary induction:
    // 8 greedy merge rounds over frequency-weighted pair counts of the
    // DISTINCT-WORD table (training never rescans documents), then the
    // frozen merges applied for per-source corpus token counts next to
    // the whitespace baseline. The oracle replays all 8 rounds verbatim
    // (same pair counts, same count-desc/left/right tie-break, same
    // single-pass `replace`), so the merge table itself is pinned
    // end-to-end through the counts it produces.
    "x153_bpe_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, trained) = Bpe.train(Bpe.wordTable(docs, "text"), rounds = 8)
      Bpe.corpusTokens(docs, "source", "text", Bpe.tokenCounts(trained))
        .orderBy(col("source"))
    }),

    // Stored BPE model (x155) — the trained-model sibling of the stored
    // indexes: train on the even-doc half, PERSIST the merge table, read
    // it back FROZEN, and tokenize the whole corpus off the store — the
    // production shape where one training job feeds every downstream
    // tokenization (and OOV words from the unseen half simply match
    // fewer merges). The oracle replays training on the same half, then
    // re-applies the frozen merges to all words.
    "x155_bpe_from_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (merges, _) = Bpe.train(
        Bpe.wordTable(docs.where(col("doc_id") % 2 === 0), "text"), rounds = 8)
      val mdl = s"/tmp/graft/x155_bpe_${storeTag(dir)}"
      Bpe.writeModel(s, merges, mdl)
      val frozen = Bpe.readModel(s, mdl)
      Bpe.corpusTokens(docs, "source", "text",
          Bpe.tokenCounts(Bpe.applyMerges(Bpe.wordTable(docs, "text"), frozen)))
        .orderBy(col("source"))
    }),

    // k-core of the customer–supplier trade graph (x156) — which trading
    // community survives when thin relationships peel away: nodes are
    // customers and suppliers (prefixed — the key spaces collide), edges
    // the distinct trade pairs of orders⋈lineitem, k=8, peel bounded at
    // 4 rounds with degrees measured within survivors. The oracle
    // unrolls the same peels; the early-stop makes extra rounds no-ops,
    // so fixed-round replay agrees regardless of where the peel settles.
    "x156_kcore_trade" -> ((s, dir) => {
      val e = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      Graph.kCore(e, "src", "dst", k = 8, rounds = 4)
        .orderBy(col("node"))
    }),

    // Skip-gram co-occurrence counts (x157) — the word2vec-style
    // training-prep table: forward-window (token, token+1..3) pair
    // counts, min-support 5, top 200 under a total (cnt desc, a, b)
    // order. Each document zips its own token array against shifted
    // slices of itself — never a positional self-join.
    "x157_skipgram_counts" -> ((s, dir) =>
      TextStats.skipgramCounts(t(s, dir, "documents"), "text",
          window = 3, minCount = 5L)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(200)),

    // Frequent event-type itemsets (x158) — A-priori level-2 market
    // basket over behavioral logs: type pairs sharing at least 5% of
    // users' histories. Baskets collapse once to distinct (user, type);
    // the pair join is co-partitioned on user; the support threshold
    // compares the rounded ratio, so the boundary row cannot flip.
    "x158_frequent_itemsets" -> ((s, dir) =>
      Behavior.frequentTypePairs(Catalog.events(s, dir), minSupport = 0.05)
        .orderBy(col("n_users").desc, col("type_a"), col("type_b"))),

    // Pair-store ingest (x159) — the pair TABLE's growth path, closing
    // the loop x152 opened, in the production proportions (big standing
    // corpus, small daily batch): 80% of the corpus builds the bundle
    // (bucket index + pair table), the 20% batch appends with ONE
    // batch-sized signature pass — cross matches off the stored index,
    // within-batch pairs locally, its own buckets appended for the next
    // batch. The stored table must equal the exact O(n²) pair truth of
    // the FULL corpus — x2's oracle verbatim, so incremental ≡ one-shot
    // ≡ exact is checked end to end (DedupSpec additionally pins a
    // three-batch ingest against a one-shot rebuild row-for-row). The
    // ingest goes through the LEDGERED path and is deliberately issued
    // twice with the same batch id: the second call is a replay and
    // must be a no-op — a double-append would double every pair row
    // and flip the oracle hash. Since round 13 this key is a thin
    // alias of the BUNDLE-backed store (x174 is the canonical bundle
    // ingest) — the declared key stays stable, the oracle is
    // unchanged, and the store underneath is the atomic one.
    "x159_pair_store_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x159_store_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val corpus = docs.where(col("doc_id") % 5 =!= 4)
      val batch = docs.where(col("doc_id") % 5 === 4)
      Dedup.writePairBundle(corpus, root, "neardup", "doc_id", "text",
        threshold = 0.9)
      val first = Dedup.ingestPairBundle(batch, corpus, root, "neardup",
        batchId = "day-0001", idCol = "doc_id", textCol = "text",
        threshold = 0.9)
      val replay = Dedup.ingestPairBundle(batch, corpus, root, "neardup",
        batchId = "day-0001", idCol = "doc_id", textCol = "text",
        threshold = 0.9)
      require(first && !replay,
        s"pair-store ledger broken: first=$first replay=$replay")
      Catalog.readBundleTable(s, root, "neardup", "pairs")
        .orderBy(col("a"), col("b"))
    }),

    // Source overlap matrix (x160) — x136 catches whole near-dup
    // documents across feeds; this catches partial mirroring BELOW the
    // doc threshold: per-feed distinct shingle sets, exact pairwise
    // Jaccard/containment from integer set arithmetic. The intersection
    // join keys on the shingle, which carries at most |sources| rows
    // per side — boilerplate shared by every feed costs |sources|²
    // rows, never a quadratic blowup.
    "x160_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source_a"), col("source_b"))),

    // Association rules (x164) — x158's directed completion: A→B with
    // confidence P(B|A) and lift P(B|A)/P(B) over the same distinct
    // baskets; all ratios from exact integer counts, support rounded
    // before the threshold, lift in one fixed expression order.
    "x164_association_rules" -> ((s, dir) =>
      Behavior.associationRules(Catalog.events(s, dir), minSupport = 0.05)
        .orderBy(col("type_a"), col("type_b"))),

    // Ingestion freshness report (x163) — the feed-liveness dashboard:
    // per event type, total volume, minutes since its last event, and
    // volume in the trailing 24 h — both measured against the DATA's own
    // frontier (the global max timestamp), never the wall clock, so the
    // result is a pure function of the table. All integer-microsecond
    // arithmetic (x127's idiom: unix_micros and `div`, no
    // timestamp→double), global frontier as a broadcast one-row
    // aggregate.
    "x163_ingest_freshness" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("__us"))
      val g = ev.agg(max(col("__us")).as("__gmax"))
      ev.crossJoin(broadcast(g))
        .withColumn("__recent",
          col("__us") >= col("__gmax") - lit(86400000000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          expr("(max(__gmax) - max(__us)) div 60000000").as("mins_since_last"),
          sum(when(col("__recent"), 1L).otherwise(0L)).as("n_last_24h"))
        .orderBy(col("event_type"))
    }),

    // Referential-integrity audit (x162) — the FK pre-flight before a
    // 100 TB join: orders.o_custkey against customer.c_custkey, one row
    // of exact id-relationship facts (matched/unmatched distinct ids,
    // multiplicity per side). Each side collapses to per-id counts
    // map-side first; the full-outer join is over compacted id frames.
    "x162_integrity_audit" -> ((s, dir) =>
      graft.operators.Checks.integrityAudit(
        t(s, dir, "orders"), t(s, dir, "customer"),
        "o_custkey", "c_custkey")),

    // Hybrid retrieval (x161) — reciprocal-rank fusion of the exact
    // lexical ranking (3-gram Jaccard to the query doc) and the exact
    // vector ranking (cosine to the query embedding): the fused exact
    // baseline for the text-index + ANN-index serving stacks. Both
    // side-ranks and the fused rank break ties on ascending id, so the
    // oracle replays rank-for-rank.
    "x161_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vecs = t(s, dir, "embeddings")
      Similarity.hybridRrf(docs, docs.where(col("doc_id") < 5),
          vecs, vecs.where(col("vec_id") < 5), k = 10)
        .select(col("qid"), col("nid"), roundz(col("rrf"), 6).as("rrf"),
          col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Hybrid serve off both STORED indexes (x165) — the production
    // serving path x161's exact fusion is the baseline for: one user
    // query (a term list plus its embedding), BM25 ranks off the stored
    // text index (postings scan pruned to the terms' shards), ANN ranks
    // off the stored ANN index (codes scan pruned to the probed cells),
    // fused by the SAME rrf arithmetic (Similarity.rrfFuseBatch). Nothing at
    // serve time touches corpus text or trains — both expensive passes
    // happened at index build. Contract shape is x95's: result count
    // plus an earned overlap floor of the served fusion against the
    // exact fusion (same bm25 ranks, brute-force vector ranks) — the
    // only approximation in the composition is the ANN side. Measured
    // overlap (RecallProbe, deterministic): 0.6 / 0.8 / 0.8 at
    // sf0.001/0.01/0.1 — floor 0.5 sits under the weakest point.
    // Since round 14 the serve runs on the atomic BUNDLE stores
    // (hybridStoredServeBundle — the same BM25/ADC arithmetic, so ranks
    // and the pinned overlap floors held across the move).
    "x165_hybrid_stored_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val root = s"/tmp/graft/x165_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // independent stores — built overlapped (guide §2.6)
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs, root, "tix",
          seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val served = Similarity.hybridStoredServeBundle(s, root, "tix",
        root, "ann", e, terms, q,
        k = 10, poolK = 50, rerank = 150, nProbe = 6).persist()
      // the query is vec_id 0, so the brute-force side's qid is 0 too
      val lex = TextIndex.bm25SearchBundle(s, root, "tix", terms, k = 50)
        .select(lit(0L).as("qid"), col("doc_id").as("nid"),
          col("rank").cast("int").as("lrank"))
      val exactVec = Similarity.bruteForceKnn(e, q, k = 50)
        .select(col("qid"), col("nid"), col("rank").as("vrank"))
      val exact = Similarity.rrfFuseBatch(lex, exactVec, k = 10)
      val ov = served.select(col("nid"))
        .join(exact.select(col("nid")), Seq("nid"), "left_semi")
        .agg(count(lit(1)).as("__ov"))
      served.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(ov))
        .select(col("n_results"),
          (col("__ov") >= lit(5L)).as("overlap_ok"))
    }),

    // DSIR scoring served off the FROZEN LM store (x166) — the batch
    // twin of the streaming scorer (DsirStream), extending the
    // trained-model store family (BPE x155) to the LM pair: both unigram
    // LMs are fitted ONCE and frozen as side tables (freezeLms — vocab
    // frames + denominators), the whole corpus then scores off the store
    // through the SAME scoreImportance stage x84 and the stream share,
    // so train-once-serve-forever ≡ train-in-query end to end: the
    // oracle is x84's replay VERBATIM, and any drift between the frozen
    // tables and in-query fitting flips the hash.
    "x166_dsir_from_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x166_lm_${storeTag(dir)}"
      graft.streaming.DsirStream.freezeLms(docs,
        docs.where(col("doc_id") % 10 === 0), "text", vocabSize = 20,
        root, "x166")
      val (sv, sd, tv, td) = graft.streaming.DsirStream.loadLms(s, root, "x166")
      TextStats.scoreImportance(docs, "doc_id", "text", tv, td, sv, sd)
        .select(col("doc_id"), roundz(col("dsir_w"), 6).as("dsir_w"))
        .orderBy(col("doc_id"))
    }),

    // Per-source corpus cross-entropy (x167) — the feed-quality
    // dashboard row next to x150's volume health: every source scored
    // against the SAME corpus-wide smoothed unigram LM, so the numbers
    // compare across feeds; template junk, boilerplate storms, or a
    // wrong-language feed read high. Integer-exact: per-token negative
    // log-probs round and scale to ×10⁶ longs BEFORE the per-source sum
    // (order-free — partial-agg order cannot flake the hash), one final
    // division over exact integer totals.
    "x167_source_xent" -> ((s, dir) =>
      TextStats.sourceCrossEntropy(t(s, dir, "documents"), "source",
          "text", vocabSize = 20)
        .orderBy(col("source"))),

    // Stored NB classifier (x168) — the gating classifier joins the
    // trained-model store family: x116's model (label×vocab log-prob
    // grid, priors, doc total) persists as tables at training time and
    // the whole corpus classifies against the FROZEN store through the
    // same scoring+argmax stages the in-query path uses. Log-probs are
    // IEEE doubles and parquet round-trips their bits, so store-serve ≡
    // fit-in-query row-for-row — the oracle is x116's refit replay
    // VERBATIM, and any store/serve drift flips the hash.
    "x168_nb_from_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x168_nb_${storeTag(dir)}"
      graft.operators.NbModel.trainWrite(docs, "text", "lang", root)
      graft.operators.NbModel.predict(s, root, docs, "doc_id", "text", "lang")
        .where(col("predicted").isNotNull)
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // Mergeable LM count store (x169) — the model store whose sufficient
    // statistic MERGES: the unigram LM is fully determined by its word
    // counts, and counts add, so the store absorbs each document batch
    // with one vocab-sized staged rewrite (ledgered — a replayed batch
    // id is skipped; the in-query replay below proves it), never a
    // corpus rescan. The declared query builds on a third of the corpus,
    // ingests the other two thirds as batches (one deliberately
    // replayed), loads the LM off the merged counts, and scores every
    // document — the oracle is x60's replay VERBATIM, so ingest ≡ refit
    // is checked end to end: doubled counts from a replay, a lost batch,
    // or a load-convention drift each flip the hash.
    // Since round 13 this key is a thin alias of the BUNDLE-backed LM
    // store (x179 is the canonical bundle ingest with compaction) —
    // declared key and oracle unchanged, the store underneath atomic.
    "x169_lm_count_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x169_lmc_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      graft.operators.LmStore.writeBundle(docs.where(col("doc_id") % 3 === 0),
        "text", root, "lm", seedBatchIds = Seq("b0"))
      val i1 = graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 1), "text", root, "lm", "b1")
      val r1 = graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 1), "text", root, "lm", "b1")
      val i2 = graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 2), "text", root, "lm", "b2")
      require(i1 && !r1 && i2,
        s"lm-store ledger broken: i1=$i1 replay=$r1 i2=$i2")
      val (voc, denom) = graft.operators.LmStore.loadBundle(s, root, "lm",
        vocabSize = 20)
      TextStats.unigramLogProbFromLm(docs, "doc_id", "text", voc, denom)
        .select(col("doc_id"), roundz(col("unigram_lp"), 6).as("unigram_lp"))
        .orderBy(col("doc_id"))
    }),

    // Compaction under the ORACLE gate (x170) — the maintenance path
    // itself becomes declared surface: the LSH bucket index is built
    // fragmented (a build plus two appends — each band directory holds
    // one file set per ingest), EVERY band then compacts in-query
    // (staged rewrite + atomic swap), and the serve off the compacted
    // store must still equal the exact O(batch×corpus) Jaccard truth.
    // The CatalogSpec pins already check serve-identical pre/post on one
    // shard; this puts "compaction is invisible" under the driver's
    // correctness hash for the whole store — a row lost or doubled by
    // the rewrite flips it.
    "x170_compacted_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = s"/tmp/graft/x170_index_${storeTag(dir)}"
      Dedup.writeLshIndex(docs.where(col("doc_id") % 5 < 2), idx,
        "doc_id", "text")
      Dedup.appendLshIndex(docs.where(col("doc_id") % 5 === 2), idx,
        "doc_id", "text")
      Dedup.appendLshIndex(docs.where(col("doc_id") % 5 === 3), idx,
        "doc_id", "text")
      for (b <- 0 until 12)
        Catalog.compactPartition(s, idx, "buckets", Seq(("band", b.toString)))
      Dedup.matchesAgainstLshIndex(docs.where(col("doc_id") % 5 === 4),
          docs.where(col("doc_id") % 5 =!= 4), idx, "doc_id", "text",
          threshold = 0.9)
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // MMR diversified re-rank (x171) — the serving stack's third stage
    // after retrieval (x8/x95) and fusion (x161/x165): greedy maximal
    // marginal relevance over the query's top-30 shortlist, k=10, λ=0.5
    // (the common factor cancels, so each step argmaxes the INTEGER
    // qsim4 − max psim4 over ×10⁴-rounded cosines — engine-replayable,
    // ties on ascending id). Distributed work is the shortlist retrieval
    // and the pool² pairwise cosines; the greedy runs driver-side over
    // the bounded collected pool (≤ poolK² rows — the query's own
    // shortlist, corpus size never enters). The oracle unrolls all 10
    // greedy steps as materialized CTEs.
    "x171_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.mmrRerank(e, e.where(col("vec_id") < 1), k = 10,
          poolK = 30)
        .orderBy(col("rank"))
    }),

    // Versioned table with time travel (x172) — the minimal
    // transactional table format every maintenance ledger names as its
    // residual, as a one-member bundle: each commit lands in a NEW
    // immutable numbered directory that appears together with its
    // _manifest in one rename, and only then does the _latest pointer
    // flip, so a crash anywhere leaves readers on the previous version
    // or the completed new one — never a partial table.
    // The declared query commits the even-doc half as v1 and the full
    // corpus as v2, then reads BOTH versions back (time travel) plus the
    // anti-join of v2 against v1 — version numbers, both counts, and the
    // added-row count are all SQL-derivable from the same splits.
    "x172_versioned_table" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x172_vt_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val v1 = Catalog.commitBundle(
        Seq("docs" -> docs.where(col("doc_id") % 2 === 0)), root, "docs")
      val v2 = Catalog.commitBundle(Seq("docs" -> docs), root, "docs")
      val old = Catalog.readBundleTable(s, root, "docs", "docs", Some(v1))
      val cur = Catalog.readBundleTable(s, root, "docs", "docs")
      cur.agg(count(lit(1)).as("n_latest"))
        .crossJoin(broadcast(old.agg(count(lit(1)).as("n_v1"))))
        .crossJoin(broadcast(
          cur.join(old.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("n_added"))))
        .select(lit(v1).as("v1"), lit(v2).as("v2"), col("n_v1"),
          col("n_latest"), col("n_added"))
    }),

    // Atomic multi-table bundle commit (x173) — the cross-table
    // consistency x172's single-table protocol cannot give, and the
    // exact shape the pair-store ingest ledger documents as its
    // residual: both member tables land inside ONE new version
    // directory, the _manifest naming the members renames in LAST
    // ("committed" = manifest exists), then the bundle pointer flips —
    // so no reader can ever observe table A at version n and table B at
    // n−1. The declared query commits a two-table bundle twice and
    // reads BOTH members at BOTH versions; every count is SQL-derivable
    // from the same deterministic splits.
    "x173_bundle_commit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val orders = t(s, dir, "orders")
      val root = s"/tmp/graft/x173_bc_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val v1 = Catalog.commitBundle(Seq(
        "docs" -> docs.where(col("doc_id") % 2 === 0),
        "orders" -> orders.where(col("o_orderkey") % 2 === 0)), root, "pair")
      val v2 = Catalog.commitBundle(Seq(
        "docs" -> docs, "orders" -> orders), root, "pair")
      def n(ref: String, v: Long, as: String) =
        broadcast(Catalog.readBundleTable(s, root, "pair", ref, Some(v))
          .agg(count(lit(1)).as(as)))
      n("docs", v1, "n_docs_v1")
        .crossJoin(n("orders", v1, "n_orders_v1"))
        .crossJoin(n("docs", v2, "n_docs_v2"))
        .crossJoin(n("orders", v2, "n_orders_v2"))
        .select(lit(v1).as("v1"), lit(v2).as("v2"), col("n_docs_v1"),
          col("n_orders_v1"), col("n_docs_v2"), col("n_orders_v2"))
    }),

    // Pair bundle on the atomic store (x174) — x159's ingest MIGRATED
    // onto x173's bundle commits, closing the marker-file residual for
    // good: pairs and buckets publish together as one bundle version,
    // the batch id rides IN the manifest (data and ledger are the same
    // rename — no append-then-marker crash window), and a replayed
    // batch id is rejected atomically (exercised in-plan below). Same
    // 80/20 proportions and the same exact O(n²) oracle as x159:
    // incremental ≡ one-shot ≡ exact, now transactionally published.
    "x174_pair_bundle_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x174_pb_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val corpus = docs.where(col("doc_id") % 5 =!= 4)
      val batch = docs.where(col("doc_id") % 5 === 4)
      Dedup.writePairBundle(corpus, root, "neardup", "doc_id", "text",
        threshold = 0.9)
      val first = Dedup.ingestPairBundle(batch, corpus, root, "neardup",
        batchId = "day-0001", idCol = "doc_id", textCol = "text",
        threshold = 0.9)
      val replay = Dedup.ingestPairBundle(batch, corpus, root, "neardup",
        batchId = "day-0001", idCol = "doc_id", textCol = "text",
        threshold = 0.9)
      require(first && !replay,
        s"bundle ledger broken: first=$first replay=$replay")
      // bundle COMPACTION stays out of this plan deliberately: it is a
      // full-store rewrite (linear in store size by definition), and
      // folding it in would mix a maintenance job's linear floor into
      // the INGEST path's scaling signal. Compaction-under-the-oracle
      // is x170's story; the bundle variant is CatalogSpec-pinned
      // (serve-identical + ledger preserved).
      Catalog.readBundleTable(s, root, "neardup", "pairs")
        .orderBy(col("a"), col("b"))
    }),

    // Version diff off the store (x175) — the audit workflow the
    // versioned table exists for ("what changed between yesterday's
    // commit and today's"): x114's corpus revisions commit as two store
    // VERSIONS, both time-travel-read back, and the same hash-keyed
    // full-outer diff classifies every key — x114's oracle verbatim, so
    // diff-off-the-store ≡ diff-in-memory end to end (a version serving
    // stale or partial data flips the counts).
    "x175_version_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x175_vd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val r1 = Catalog.commitBundle(
        Seq("docs" -> docs.where(col("doc_id") % 7 =!= 0)), root, "docs")
      val r2 = Catalog.commitBundle(Seq("docs" -> docs
        .where(col("doc_id") % 5 =!= 1)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          upper(col("text"))).otherwise(col("text")))), root, "docs")
      RelOps.snapshotDiff(
          Catalog.readBundleTable(s, root, "docs", "docs", Some(r1)),
          Catalog.readBundleTable(s, root, "docs", "docs", Some(r2)),
          Seq("doc_id"), Seq("text"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // The COMPOSED three-stage serve (x176) — the full production
    // search stack as ONE declared query: retrieval off both STORED
    // indexes (BM25 postings pruned to the query terms' shards, ANN
    // codes pruned to the probed cells), RRF fusion of the two pools,
    // then MMR diversification of the fused shortlist — x165's serve
    // feeding x171's greedy, end to end off the stores. Contract shape
    // is x165's: result count plus an earned overlap floor of the
    // composed serve against the exact composition (same BM25 ranks,
    // brute-force vector ranks, same fusion and the same integer
    // greedy — the ANN side is the ONLY approximation, and the shared
    // rrfFuseBatch and mmrRerankPoolBatch cores mean fusion/greedy cannot
    // drift between the two sides). Measured final-list overlap (RecallProbe,
    // deterministic): 0.9 / 0.6 / 0.7 at sf0.001/0.01/0.1 — floor 0.5
    // sits under the weakest point.
    // Since round 14 the serve runs on the atomic BUNDLE stores
    // (threeStageServeBundle — the same arithmetic end to end, same
    // floors).
    "x176_three_stage_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val root = s"/tmp/graft/x176_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // threeStageServeBundle's alignment contract: index only the EMBEDDED
      // docs (at sf0.1 the corpus has docs without vectors) — a fused
      // candidate must resolve to a vector or the MMR stage fails loudly
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val served = Similarity.threeStageServeBundle(s, root, "tix",
        root, "ann", e, terms, q,
        k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6).persist()
      // the exact composition: stored BM25 ranks (not approximated),
      // brute-force vector ranks, same rrfFuseBatch, same
      // mmrRerankPoolBatch; the query is vec_id 0, so every side's qid is 0
      val lex = TextIndex.bm25SearchBundle(s, root, "tix", terms, k = 50)
        .select(lit(0L).as("qid"), col("doc_id").as("nid"),
          col("rank").cast("int").as("lrank"))
      val exactVec = Similarity.bruteForceKnn(e, q, k = 50)
        .select(col("qid"), col("nid"), col("rank").as("vrank"))
      val exactPool = Similarity.rrfFuseBatch(lex, exactVec, k = 30)
      val exact = Similarity.mmrRerankPoolBatch(e, q,
        exactPool.select(col("qid"), col("nid")), k = 10)
      val ov = served.select(col("nid"))
        .join(exact.select(col("nid")), Seq("nid"), "left_semi")
        .agg(count(lit(1)).as("__ov"))
      served.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(ov))
        .select(col("n_results"),
          (col("__ov") >= lit(5L)).as("overlap_ok"))
    }),

    // BATCHED multi-query serve (x183) — x176's production stack run
    // for EIGHT queries in ONE plan, the offline-eval / bulk-serving
    // shape: the postings scan prunes once to the union of the
    // queries' term shards (bm25SearchBatchBundle), the stored ANN serve
    // carries qid natively, fusion is per-qid (rrfFuseBatch) and the
    // MMR greedy runs per qid over the collected fused pools
    // (mmrRerankPoolBatch — Σ fuseK² pair rows, explicit cap). Checks
    // under the hash: total result count, all 8 qids served at k, and
    // a per-qid overlap floor vs the exact composition (batched stored
    // BM25 ranks + brute-force vector ranks through the SAME fusion
    // and greedy — the ANN side is the only approximation). Measured
    // min-over-qids overlap (deterministic): 6/10 sf0.001, 4/10
    // sf0.01, 3/10 sf0.1 (the weakest single query at the hard sf0.1
    // point — same profile as round-13 x182's 17/30 there) — floor 2 sits
    // strictly under the weakest point.
    "x183_batched_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val vocab = Seq("join", "hash", "vector", "scan", "merge",
        "table", "index", "sort")
      val batch = (0 until 8).map { i =>
        i.toLong -> Seq(vocab(i), vocab((i + 3) % 8)) }
      val qvecs = e.where(col("vec_id") < 8)
      // since round 14 on the atomic BUNDLE stores (same batch
      // arithmetic, same floors)
      val root = s"/tmp/graft/x183_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val served = Similarity.threeStageServeBatchBundle(s, root, "tix",
        root, "ann", e, batch,
        qvecs, k = 10, fuseK = 30, poolK = 50, rerank = 150,
        nProbe = 6).persist()
      val lex = TextIndex.bm25SearchBatchBundle(s, root, "tix", batch, k = 50)
        .select(col("qid"), col("doc_id").as("nid"),
          col("rank").cast("int").as("lrank"))
      val exactVec = Similarity.bruteForceKnn(e, qvecs, k = 50)
        .select(col("qid"), col("nid"), col("rank").as("vrank"))
      val exactPool = Similarity.rrfFuseBatch(lex, exactVec, k = 30)
      val exact = Similarity.mmrRerankPoolBatch(e, qvecs,
        exactPool.select(col("qid"), col("nid")), k = 10)
      val perQid = served.select(col("qid"), col("nid"))
        .join(exact.select(col("qid"), col("nid")), Seq("qid", "nid"),
          "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("__ov"))
        .agg(min(col("__ov")).as("__min_ov"), count(lit(1)).as("__nq"))
      served.agg(count(lit(1)).as("n_results"),
          countDistinct(col("qid")).as("n_queries"))
        .crossJoin(broadcast(perQid))
        .select(col("n_results"), col("n_queries"),
          (col("__min_ov") >= lit(2L) && col("__nq") === lit(8L))
            .as("overlap_ok"))
    }),

    // Version diff across a SCHEMA-EVOLVED commit (x177) — the store
    // serves every version with its OWN schema (time travel), and the
    // diff spanning the evolution must not read "v2 added a column" as
    // "every row changed": evolvedSnapshotDiff hashes only the non-key
    // columns the two versions SHARE, so membership and text edits
    // classify exactly as they would without the evolution, and the
    // schema change itself is reported as data (schemaDelta). The plan
    // also REQUIRES the two reads to come back 2- and 3-column — a
    // store that widens old versions or drops the new column fails
    // before any row is compared.
    "x177_schema_evolved_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x177_se_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val r1 = Catalog.commitBundle(Seq("docs" ->
        docs.select(col("doc_id"), col("text"))
          .where(col("doc_id") % 3 =!= 0)), root, "docs")
      val r2 = Catalog.commitBundle(Seq("docs" ->
        docs.select(col("doc_id"),
            when(col("doc_id") % 11 === 0, upper(col("text")))
              .otherwise(col("text")).as("text"),
            col("source"))
          .where(col("doc_id") % 4 =!= 1)), root, "docs")
      val o = Catalog.readBundleTable(s, root, "docs", "docs", Some(r1))
      val n = Catalog.readBundleTable(s, root, "docs", "docs", Some(r2))
      val delta = RelOps.schemaDelta(o, n)
      require(o.columns.length == 2 && n.columns.length == 3 &&
        delta == Seq("source" -> "added"),
        s"versioned store must serve per-version schemas: " +
          s"${o.columns.toSeq} -> ${n.columns.toSeq}")
      RelOps.evolvedSnapshotDiff(o, n, Seq("doc_id"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .select(col("status"), col("n"),
          lit(delta.map { case (c, side) => s"$c:$side" }.mkString(","))
            .as("schema_delta"))
        .orderBy(col("status"))
    }),

    // Point-in-time dimension serve off the versioned store (x178) —
    // the reproducibility workflow the version history exists for:
    // every fact scores against the dimension VERSION that was in force
    // at the fact's own timestamp (training-feature reproduction /
    // SCD-2 semantics, but the "slowly changing dimension" is just the
    // store's commit history — no merge bookkeeping). Three balance
    // snapshots commit as store versions; the version pick is a
    // BROADCAST range join of events against the half-open validity
    // intervals (Temporal.validityIntervals + broadcastRangeJoin — the
    // fact stream never shuffles for the pick, the version history is
    // a handful of rows), then one hash equi-join on (version, custkey)
    // against the union of time-travel reads. Integer-exact end to
    // end: balances ride as cents-longs, event values as x10^6 longs,
    // so every sum is order-free and the oracle replays the same
    // ladder from the raw tables.
    "x178_pit_dim_serve" -> ((s, dir) => {
      import s.implicits._
      val root = s"/tmp/graft/x178_pit_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"))
      val v2d = base.withColumn("bal_c", col("bal_c") +
        when(col("c_custkey") % 7 === 0, 10000L).otherwise(0L))
      val v3d = v2d.withColumn("bal_c", col("bal_c") +
        when(col("c_custkey") % 5 === 0, 5000L).otherwise(0L))
      val vs = Seq(base, v2d, v3d)
        .map(d => Catalog.commitBundle(Seq("cust" -> d), root, "cust"))
      val bounds = vs.zip(Seq("2024-01-01 00:00:00", "2024-01-11 00:00:00",
          "2024-01-21 00:00:00")).toDF("version", "vfs")
        .withColumn("valid_from", to_timestamp(col("vfs"))).drop("vfs")
      val intervals = Temporal.validityIntervals(bounds, "valid_from",
        to_timestamp(lit("2100-01-01 00:00:00")))
      val ev = Catalog.events(s, dir).select(col("user_id"),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long").as("val6"))
      val dim = vs.map(v => Catalog.readBundleTable(s, root, "cust", "cust", Some(v))
          .select(lit(v).as("version"), col("c_custkey").as("user_id"),
            col("bal_c")))
        .reduce(_ unionByName _)
      Temporal.broadcastRangeJoin(ev, intervals, "ts", "valid_from",
          "__valid_to")
        .join(dim, Seq("version", "user_id"))
        .groupBy(col("version"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("val6")).as("sum_val6"),
          sum(col("bal_c")).as("sum_bal_c"))
        .orderBy(col("version"), col("event_type"))
    }),

    // LM count store on the atomic bundle (x179) — x169's ingest
    // MIGRATED onto the manifest ledger, the same move x174 made for
    // the pair store: each batch's count table lands as an LSM-style
    // DELTA file set with the batch id riding IN the manifest (data and
    // replay guard are one rename — the flat store's swap→marker window
    // is gone, and even the CREATE is seeded into its own commit, so
    // the re-mark step the streaming twin needed no longer exists).
    // The plan replays BOTH the seed batch and an ingested batch
    // in-plan (both rejected), compacts the three delta file sets under
    // the oracle hash (ledger preserved — x170's discipline; the counts
    // table is Heaps-bounded, so the rewrite is sublinear in corpus),
    // and serves the LM off the merged counts. Oracle is x169's refit
    // replay VERBATIM: bundle-ingest ≡ refit end to end.
    "x179_lm_bundle_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x179_lmb_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      graft.operators.LmStore.writeBundle(docs.where(col("doc_id") % 3 === 0),
        "text", root, "lm", seedBatchIds = Seq("b0"))
      val i1 = graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 1), "text", root, "lm", "b1")
      val r0 = graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 0), "text", root, "lm", "b0")
      val i2 = graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 2), "text", root, "lm", "b2")
      val r1 = graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 1), "text", root, "lm", "b1")
      require(i1 && !r0 && i2 && !r1,
        s"bundle LM ledger broken: i1=$i1 r0=$r0 i2=$i2 r1=$r1")
      Catalog.compactBundle(s, root, "lm")
      require(!graft.operators.LmStore.ingestBundle(
        docs.where(col("doc_id") % 3 === 2), "text", root, "lm", "b2"),
        "compaction must not reopen the ledger")
      val (voc, denom) = graft.operators.LmStore.loadBundle(s, root, "lm",
        vocabSize = 20)
      TextStats.unigramLogProbFromLm(docs, "doc_id", "text", voc, denom)
        .select(col("doc_id"), roundz(col("unigram_lp"), 6).as("unigram_lp"))
        .orderBy(col("doc_id"))
    }),

    // FILTERED composed serve (x180) — x176 with the one thing every
    // production search request carries that x176's stack ignored: a
    // metadata filter. The predicate resolves to an allowed-id frame
    // and restricts the CANDIDATE set on BOTH stored retrieval sides
    // before their top-k (BM25 keeps GLOBAL corpus statistics — a
    // filter narrows who may return, not what words mean; the ANN side
    // semi-joins the cell-pruned codes before ADC scoring, so a
    // selective filter also shrinks the shortlist work), then fusion
    // and MMR run over the already-filtered pool. Three checks under
    // the hash: result count, all_allowed (no served id outside the
    // filter — earned, the engine counts violations), and the overlap
    // floor vs the exact FILTERED composition (same stored BM25-within
    // ranks, brute force over the filtered corpus, same fusion+greedy).
    // Measured overlap (RecallProbe): 0.6 / 0.5 / 0.6 across SFs —
    // floor 0.4 sits under the weakest point.
    "x180_filtered_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val allowed = e.where(col("label") < 5).select(col("vec_id"))
      // since round 14 on the atomic BUNDLE stores (same arithmetic,
      // same floors)
      val root = s"/tmp/graft/x180_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs —
      // the `within` filter alone also guarantees pool resolution, but
      // the store should match what the probe and every other composed
      // serve builds
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val served = Similarity.threeStageServeBundle(s, root, "tix",
        root, "ann", e, terms, q,
        k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6,
        within = Some(allowed)).persist()
      val viol = served
        .join(allowed.select(col("vec_id").as("nid")), Seq("nid"), "left_anti")
        .agg(count(lit(1)).as("__viol"))
      // the query is vec_id 0, so every side's qid is 0
      val lex = TextIndex.bm25SearchBundle(s, root, "tix", terms, k = 50,
          within = Some(allowed))
        .select(lit(0L).as("qid"), col("doc_id").as("nid"),
          col("rank").cast("int").as("lrank"))
      val exactVec = Similarity.bruteForceKnn(
          e.join(allowed, Seq("vec_id"), "left_semi"), q, k = 50)
        .select(col("qid"), col("nid"), col("rank").as("vrank"))
      val exactPool = Similarity.rrfFuseBatch(lex, exactVec, k = 30)
      val exact = Similarity.mmrRerankPoolBatch(e, q,
        exactPool.select(col("qid"), col("nid")), k = 10)
      val ov = served.select(col("nid"))
        .join(exact.select(col("nid")), Seq("nid"), "left_semi")
        .agg(count(lit(1)).as("__ov"))
      served.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(viol))
        .crossJoin(broadcast(ov))
        .select(col("n_results"),
          (col("__viol") === lit(0L)).as("all_allowed"),
          (col("__ov") >= lit(4L)).as("overlap_ok"))
    }),

    // PiT serve OFF THE INTERVAL TABLE (x184) — x178's reproducibility
    // query with the dimension side x181 proved equivalent: the commit
    // history collapses ONCE at ingest to the SCD-2 interval table
    // (one row per unchanged run per key), and the SERVE reads only
    // that bounded table — the union of V time-travel snapshot reads
    // (x178's dim frame, V× dim size) never appears in the serve path.
    // The version pick is the same broadcast range probe over the
    // handful-of-rows commit history; the dim value then arrives by
    // ONE hash equi-join on key with a residual half-open version-
    // range predicate against the intervals. The oracle is x178's
    // VERBATIM: serving off intervals must be hash-indistinguishable
    // from serving off the snapshots.
    "x184_pit_interval_serve" -> ((s, dir) => {
      import s.implicits._
      val root = s"/tmp/graft/x184_pit_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"))
      val v2d = base.withColumn("bal_c", col("bal_c") +
        when(col("c_custkey") % 7 === 0, 10000L).otherwise(0L))
      val v3d = v2d.withColumn("bal_c", col("bal_c") +
        when(col("c_custkey") % 5 === 0, 5000L).otherwise(0L))
      val vs = Seq(base, v2d, v3d)
        .map(d => Catalog.commitBundle(Seq("cust" -> d), root, "cust"))
      // ingest-side, once: history → intervals (at scale this is
      // maintained incrementally by scd2Merge, never re-collapsed)
      val hist = vs.map(v => Catalog.readBundleTable(s, root, "cust", "cust", Some(v))
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
      val iv = graft.Lifecycle.withMaterialized()(Temporal.scd2(
        hist, Seq("c_custkey"), "version", Seq("bal_c")))
      val bounds = vs.zip(Seq("2024-01-01 00:00:00", "2024-01-11 00:00:00",
          "2024-01-21 00:00:00")).toDF("version", "vfs")
        .withColumn("valid_from", to_timestamp(col("vfs"))).drop("vfs")
      val intervals = Temporal.validityIntervals(bounds, "valid_from",
        to_timestamp(lit("2100-01-01 00:00:00")))
      val ev = Catalog.events(s, dir).select(col("user_id"),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long").as("val6"))
      val picked = Temporal.broadcastRangeJoin(ev, intervals, "ts",
        "valid_from", "__valid_to")
      picked.join(iv,
          picked("user_id") === iv("c_custkey") &&
            iv("eff_from") <= picked("version") &&
            (iv("eff_to").isNull || picked("version") < iv("eff_to")))
        .groupBy(picked("version"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("val6")).as("sum_val6"),
          sum(col("bal_c")).as("sum_bal_c"))
        .orderBy(picked("version"), col("event_type"))
    }),

    // Prune dry-run / store-health report (x185) — the observability
    // row beside x163's feed-liveness: at 100 TB an operator reads
    // WHAT a retention pass would reclaim (versions, ages, sizes,
    // orphaned writer garbage, and why each row lives or dies) BEFORE
    // running it. The would_reclaim decision is computed by the SAME
    // functions the prunes execute (Catalog.bundleVictims /
    // garbageVictims — one decision path, so the dry-run can never
    // disagree with the action), and the plan EARNS
    // that: after the report, the real prunes run, and the surviving
    // rows are anti-joined both ways against the report's
    // not-reclaimed rows — a report that over- or under-predicts
    // flips prune_matched. Fixture: 4 snapshot commits of a one-member
    // versioned table at keep=2 (two retention victims, one
    // keep-window, one latest; its rows labelled kind = 'table'), a
    // fresh crashed staging dir (writer-grace — the 1h floor protects a
    // live writer), and a bundle whose compaction left two unreferenced
    // versions at keep=1. age_ms/bytes are telemetry and stay out of
    // the hashed projection.
    "x185_store_health" -> ((s, dir) => {
      val root = s"/tmp/graft/x185_health_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      (1 to 4).foreach(i => Catalog.commitBundle(
        Seq("docs" -> d.where(col("doc_id") % 4 < i)), root, "docs"))
      new java.io.File(
        s"${Catalog.bundleDir(root, "docs")}/.staging-deadbeef").mkdirs()
      Catalog.commitBundle(Seq("m" -> d.where(col("doc_id") % 2 === 0)),
        root, "b", Seq("b0"))
      Catalog.appendBundle(Seq("m" -> d.where(col("doc_id") % 2 === 1)),
        root, "b", "b1")
      Catalog.compactBundle(s, root, "b")
      def report() = Catalog.bundleHealth(s, root, "docs", keep = 2)
        .withColumn("kind", lit("table"))
        .unionByName(Catalog.bundleHealth(s, root, "b", keep = 1))
      val rep = graft.Lifecycle.withMaterialized()(report())
      Catalog.pruneBundleVersions(s, root, "docs", keep = 2)
      Catalog.pruneBundleVersions(s, root, "b", keep = 1)
      val after = report().select(col("kind"), col("name"))
      val predicted = rep.where(!col("would_reclaim"))
        .select(col("kind"), col("name"))
      val m1 = after.join(predicted, Seq("kind", "name"), "left_anti")
        .agg(count(lit(1)).as("__m1"))
      val m2 = predicted.join(after, Seq("kind", "name"), "left_anti")
        .agg(count(lit(1)).as("__m2"))
      rep.select(col("kind"), col("name"), col("version"),
          col("committed"), col("is_latest"), col("would_reclaim"),
          col("reason"))
        .crossJoin(broadcast(m1.crossJoin(broadcast(m2))
          .select((col("__m1") + col("__m2") === lit(0L))
            .as("prune_matched"))))
        .orderBy(col("kind"), col("version"), col("name"))
    }),

    // Version history collapsed to SCD-2 intervals (x181) — the
    // storage-efficient PiT serve completing x178: instead of scanning
    // every snapshot at lookup time, the commit history collapses to
    // one row per UNCHANGED RUN per key (Temporal.scd2 with the store
    // VERSION as the sequence column — commit history IS a change log,
    // so the log-collapse operator applies verbatim), and any version's
    // table rebuilds from the intervals by a 3-row broadcast range
    // probe. Two earned properties under the hash: the interval count
    // (SQL derives it per key from the bump rule — one run plus one per
    // balance change) and pit_equal — the engine rebuilds ALL versions
    // from the intervals and anti-joins both directions against the
    // time-travel reads; a lost run, a wrong boundary, or a phantom
    // interval makes the rebuilt table differ and flips it. Keys
    // present in every snapshot by construction (interval collapse
    // reads absence as "no change", the documented scd2 contract —
    // deletions need a tombstone column, out of scope here).
    "x181_version_history_scd2" -> ((s, dir) => {
      import s.implicits._
      val root = s"/tmp/graft/x181_scd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"))
      val v2d = base.withColumn("bal_c", col("bal_c") +
        when(col("c_custkey") % 7 === 0, 10000L).otherwise(0L))
      val v3d = v2d.withColumn("bal_c", col("bal_c") +
        when(col("c_custkey") % 5 === 0, 5000L).otherwise(0L))
      val vs = Seq(base, v2d, v3d)
        .map(d => Catalog.commitBundle(Seq("cust" -> d), root, "cust"))
      val hist = vs.map(v => Catalog.readBundleTable(s, root, "cust", "cust", Some(v))
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
      val iv = graft.Lifecycle.withMaterialized()(Temporal.scd2(
        hist, Seq("c_custkey"), "version", Seq("bal_c")))
      // rebuild every version from the intervals: 3-row version frame,
      // half-open [eff_from, eff_to) membership, broadcast probe
      val vers = vs.toDF("version")
      val rebuilt = iv.join(broadcast(vers),
          vers("version") >= iv("eff_from") &&
            (iv("eff_to").isNull || vers("version") < iv("eff_to")))
        .select(vers("version"), col("c_custkey"), col("bal_c"))
      val direct = hist.select(col("version"), col("c_custkey"), col("bal_c"))
      val key3 = Seq("version", "c_custkey", "bal_c")
      val mism = rebuilt.join(direct, key3, "left_anti")
        .agg(count(lit(1)).as("__m1"))
        .crossJoin(broadcast(direct.join(rebuilt, key3, "left_anti")
          .agg(count(lit(1)).as("__m2"))))
      iv.agg(countDistinct(col("c_custkey")).as("n_keys"),
          count(lit(1)).as("n_intervals"))
        .crossJoin(broadcast(
          direct.agg(count(lit(1)).as("n_snapshot_rows"))))
        .crossJoin(broadcast(mism))
        .select(col("n_keys"), col("n_intervals"), col("n_snapshot_rows"),
          (col("__m1") + col("__m2") === lit(0L)).as("pit_equal"))
    }),

    // SCD-2 with TOMBSTONES (x189) — closing x181's documented scope
    // cut ("deletions need a tombstone column, out of scope"): the
    // commit history now contains DELETIONS (keys absent from a
    // snapshot that were present in the previous one), the change log
    // derives them as presence-diff tombstone rows, and
    // Temporal.scd2(deleteCol) closes the key's open interval at the
    // delete version and opens none — the key is simply absent for the
    // span until its re-insert, which always opens a NEW interval even
    // when it carries the pre-delete values (a delete and the first
    // row after one break the run unconditionally; value-equality
    // across the gap must not silently collapse the deletion — the
    // dimension-side of the x188 takedown story). Earned under the
    // hash: pit_equal — every version rebuilt from the intervals
    // anti-joined both ways against the direct time-travel reads, so a
    // phantom interval spanning the deleted gap, a lost re-insert, or
    // a wrong boundary flips it; the interval count replays in SQL
    // from the bump-and-tombstone rule.
    "x189_scd2_tombstones" -> ((s, dir) => {
      import s.implicits._
      val root = s"/tmp/graft/x189_ts_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"))
      val v2d = base.withColumn("bal_c", col("bal_c") +
          when(col("c_custkey") % 7 === 0, 10000L).otherwise(0L))
        .where(col("c_custkey") % 9 =!= 0) // deleted in v2
      val v3d = base.withColumn("bal_c", col("bal_c") +
        when(col("c_custkey") % 7 === 0, 10000L).otherwise(0L) +
        when(col("c_custkey") % 5 === 0, 5000L).otherwise(0L)) // all back
      val vs = Seq(base, v2d, v3d)
        .map(d => Catalog.commitBundle(Seq("cust" -> d), root, "cust"))
      val reads = vs.map(v => Catalog.readBundleTable(s, root, "cust", "cust", Some(v))
        .withColumn("version", lit(v)))
      val hist = reads.reduce(_ unionByName _)
      // presence-diff tombstones: in v_{i-1}, gone in v_i
      val dels = vs.zip(reads).sliding(2).map { case Seq((_, p), (vn, c)) =>
        p.select(col("c_custkey"))
          .join(c.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), lit(null).cast("long").as("bal_c"),
            lit(vn).as("version"), lit(true).as("del"))
      }.reduce(_ unionByName _)
      val changelog = hist.withColumn("del", lit(false)).unionByName(dels)
      val iv = graft.Lifecycle.withMaterialized()(Temporal.scd2(
        changelog, Seq("c_custkey"), "version", Seq("bal_c"),
        deleteCol = Some("del")))
      val vers = vs.toDF("version")
      val rebuilt = iv.join(broadcast(vers),
          vers("version") >= iv("eff_from") &&
            (iv("eff_to").isNull || vers("version") < iv("eff_to")))
        .select(vers("version"), col("c_custkey"), col("bal_c"))
      val direct = hist.select(col("version"), col("c_custkey"), col("bal_c"))
      val key3 = Seq("version", "c_custkey", "bal_c")
      val mism = rebuilt.join(direct, key3, "left_anti")
        .agg(count(lit(1)).as("__m1"))
        .crossJoin(broadcast(direct.join(rebuilt, key3, "left_anti")
          .agg(count(lit(1)).as("__m2"))))
      iv.agg(countDistinct(col("c_custkey")).as("n_keys"),
          count(lit(1)).as("n_intervals"))
        .crossJoin(broadcast(
          direct.agg(count(lit(1)).as("n_snapshot_rows"))))
        .crossJoin(broadcast(mism))
        .select(col("n_keys"), col("n_intervals"), col("n_snapshot_rows"),
          (col("__m1") + col("__m2") === lit(0L)).as("pit_equal"))
    }),

    // ANN index on the atomic bundle (x182) — the serving index joins
    // the store-protocol migration (x174 pairs, x179 LM counts):
    // centroids, codebooks, the build's spill and the cell-partitioned
    // codes publish in ONE manifest rename, so a crash mid-rebuild can
    // never pair new centroids with old codes, and appends are LEDGERED
    // — the plan replays an append in-plan (rejected; a double append
    // would let duplicate nids occupy multiple top-k slots in the exact
    // re-rank). Three checks under the hash:
    // result count, compaction_stable (EARNED — the engine serves the
    // same queries before and after compactBundle and anti-joins both
    // directions on (qid, nid, rank); the rewrite losing or doubling a
    // code row flips it), and the recall floor vs exact brute force.
    // Measured overlap at nProbe=10 (deterministic, RecallProbe sweep
    // 8/10/12): 28/30, 28/30, 21/30 at sf0.001/0.01/0.1 (k=10 over the
    // 5000-vector sf0.1 corpus is the hard point — x95's k=5 serve
    // measures 0.7 there, same profile; round 13 served nProbe=8 and
    // measured 17/30 there, one wobble from the floor — the extra two
    // probes buy margin 5 at every SF for ~nothing, serve_only has the
    // headroom) — floor 16 sits ≥ 5 under the weakest point.
    "x182_ann_bundle_store" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 3)
      val root = s"/tmp/graft/x182_annb_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val base = e.where(col("vec_id") % 4 =!= 3)
      val batch = e.where(col("vec_id") % 4 === 3)
      def books = Embeddings.pqTrain(
        RelOps.hashSample(base, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      AnnIndex.writeBundle(base, books, root, "ann", nCentroids = 16,
        trainIters = 4, spill = 2, seedBatchIds = Seq("b0"))
      val a1 = AnnIndex.appendBundle(s, root, "ann", batch, "b1")
      val r0 = AnnIndex.appendBundle(s, root, "ann", batch, "b1")
      require(a1 && !r0, s"ann bundle ledger broken: a1=$a1 r0=$r0")
      val pre = AnnIndex.knnBundle(s, root, "ann", e, q, k = 10,
        rerank = 200, nProbe = 10)
      Catalog.compactBundle(s, root, "ann")
      require(!AnnIndex.appendBundle(s, root, "ann", batch, "b1"),
        "compaction must not reopen the ledger")
      val post = AnnIndex.knnBundle(s, root, "ann", e, q, k = 10,
        rerank = 200, nProbe = 10)
      val key = Seq("qid", "nid", "rank")
      val m1 = pre.select(key.map(col): _*)
        .join(post.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__m1"))
      val m2 = post.select(key.map(col): _*)
        .join(pre.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__m2"))
      val exact = Similarity.bruteForceKnn(e, q, k = 10)
      val ov = pre.select(col("qid"), col("nid"))
        .join(exact.select(col("qid"), col("nid")), Seq("qid", "nid"),
          "left_semi")
        .agg(count(lit(1)).as("__ov"))
      pre.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(m1)).crossJoin(broadcast(m2))
        .crossJoin(broadcast(ov))
        .select(col("n_results"),
          (col("__m1") + col("__m2") === lit(0L)).as("compaction_stable"),
          (col("__ov") >= lit(16L)).as("recall_ok"))
    }),

    // TAKEDOWN across the serving stores (x188) — the deletion path a
    // production corpus store fields routinely (contaminated-document
    // removal, copyright / right-to-be-forgotten): one atomic version
    // per store removes an id set via Catalog.rewriteBundleMembers —
    // affected members rewritten by broadcast anti-join, untouched
    // members (quantizer, codebooks) carried by manifest REFERENCE,
    // never read or rewritten, the batch ledger preserved (the plan
    // replays an ingest after the takedown: still rejected). Two
    // earned equivalences under the hash: the text index's post-
    // takedown BM25 serve anti-joins empty both ways against a one-shot
    // index REBUILT without the removed docs at a second root (the corpus-stats
    // compensation delta must land exactly — a wrong (−n, −Σdl) row
    // shifts avgdl and every score), and the ANN index's post-takedown
    // exhaustive serve (all cells probed, corpus-wide rerank) equals
    // brute force over the REMAINING vectors — a leftover code row
    // would surface a removed id, a lost one would drop a survivor.
    "x188_takedown" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val root = s"/tmp/graft/x188_td_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val rmDocs = docs.where(col("doc_id") % 10 === 3).select(col("doc_id"))
      val rebuilt = s"/tmp/graft/x188_rebuild_${storeTag(dir)}"
      deleteRecursively(new java.io.File(rebuilt))
      // the bundle's build→append→retract chain and the one-shot
      // rebuilt-without-the-ids reference share no state — overlapped
      // (guide §2.6); `post` resolves the bundle's latest version, so it
      // is constructed only after the chain committed the retraction
      graft.tools.Par.together(
        () => {
          TextIndex.writeBundle(docs.where(col("doc_id") % 2 === 0), root,
            "tix", seedBatchIds = Seq("b0"))
          require(TextIndex.appendBundle(s, root, "tix",
            docs.where(col("doc_id") % 2 === 1), "b1"), "append failed")
          TextIndex.retractBundle(s, root, "tix", rmDocs)
          require(!TextIndex.appendBundle(s, root, "tix",
            docs.where(col("doc_id") % 2 === 1), "b1"),
            "takedown must not reopen the ledger")
        },
        () => TextIndex.writeBundle(
          docs.join(rmDocs, Seq("doc_id"), "left_anti"), rebuilt, "tix"))
      val terms = Seq("join", "hash", "vector")
      val post = TextIndex.bm25SearchBundle(s, root, "tix", terms, k = 10)
      val ref = TextIndex.bm25SearchBundle(s, rebuilt, "tix", terms, k = 10)
      val tkey = Seq("doc_id", "score_x10k", "rank")
      val t1 = post.select(tkey.map(col): _*)
        .join(ref.select(tkey.map(col): _*), tkey, "left_anti")
        .agg(count(lit(1)).as("__t1"))
      val t2 = ref.select(tkey.map(col): _*)
        .join(post.select(tkey.map(col): _*), tkey, "left_anti")
        .agg(count(lit(1)).as("__t2"))
      val rmVecs = e.where(col("vec_id") % 10 === 3).select(col("vec_id"))
      def books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      AnnIndex.writeBundle(e, books, root, "ann", nCentroids = 16,
        trainIters = 4, spill = 2, seedBatchIds = Seq("b0"))
      AnnIndex.retractBundle(s, root, "ann", rmVecs)
      val q = e.where(col("vec_id") < 3)
      val served = AnnIndex.knnBundle(s, root, "ann", e, q, k = 10,
        rerank = 100000, nProbe = 16)
      val exact = Similarity.bruteForceKnn(
        e.join(rmVecs, Seq("vec_id"), "left_anti"), q, k = 10)
      val akey = Seq("qid", "nid", "rank")
      val a1 = served.select(akey.map(col): _*)
        .join(exact.select(akey.map(col): _*), akey, "left_anti")
        .agg(count(lit(1)).as("__a1"))
      val a2 = exact.select(akey.map(col): _*)
        .join(served.select(akey.map(col): _*), akey, "left_anti")
        .agg(count(lit(1)).as("__a2"))
      post.agg(count(lit(1)).as("n_text_results"))
        .crossJoin(broadcast(served.agg(count(lit(1)).as("n_ann_results"))))
        .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
        .crossJoin(broadcast(a1)).crossJoin(broadcast(a2))
        .select(col("n_text_results"), col("n_ann_results"),
          (col("__t1") + col("__t2") === lit(0L)).as("text_matches_rebuild"),
          (col("__a1") + col("__a2") === lit(0L)).as("ann_matches_exact"))
    }),

    // The production stack FULLY on the bundle protocol (x187) — the
    // round's store migrations composed: x176's three-stage serve with
    // BOTH retrieval indexes resolved through atomic bundle manifests
    // (x186 text + x182 ANN), and the one claim worth hashing: a stack
    // whose text index GREW by a ledgered append serves EXACTLY what the
    // stack built in one shot serves over the same corpus. Both text
    // bundles index the same aligned corpus — one in one commit, the
    // other as its even docs plus an appended batch of the odd ones —
    // and both stacks serve over the one ANN bundle through the same
    // cores. The two final ranked lists anti-join both ways on the full
    // (rank, nid, mmr4) row: a drift anywhere in the appended postings,
    // the summed BM25 delta stats, RRF or MMR flips matches_flat (the
    // oracle's column name, kept from the flat-directory reference it
    // once compared against).
    "x187_bundle_stack_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val aligned = docs.join(e.select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val root = s"/tmp/graft/x187_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // text side (one-shot + appended bundles) and ANN side (train
      // once) are independent — overlapped (guide §2.6)
      graft.tools.Par.together(
        () => {
          TextIndex.writeBundle(aligned, root, "tix",
            seedBatchIds = Seq("b0"))
          TextIndex.writeBundle(aligned.where(col("doc_id") % 2 === 0),
            root, "tix_appended", seedBatchIds = Seq("b0"))
          require(TextIndex.appendBundle(s, root, "tix_appended",
            aligned.where(col("doc_id") % 2 === 1), "b1"), "x187: append")
        },
        () => {
          val books = Embeddings.pqTrain(
            RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
          AnnIndex.writeBundle(e, books, root, "ann", nCentroids = 16,
            trainIters = 4, spill = 2, seedBatchIds = Seq("b0"))
        })
      val appended = Similarity.threeStageServeBundle(s, root, "tix_appended",
        root, "ann", e, terms, q,
        k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6)
      val oneShot = Similarity.threeStageServeBundle(s, root, "tix",
        root, "ann", e, terms, q,
        k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6)
      val key = Seq("rank", "nid", "mmr4")
      val m1 = oneShot.select(key.map(col): _*)
        .join(appended.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__m1"))
      val m2 = appended.select(key.map(col): _*)
        .join(oneShot.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__m2"))
      oneShot.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(m1)).crossJoin(broadcast(m2))
        .select(col("n_results"),
          (col("__m1") + col("__m2") === lit(0L)).as("matches_flat"))
    }),

    // Text index on the atomic bundle (x186) — the SECOND serving index
    // joins the store protocol (x182 did the ANN side), completing the
    // migration: postings (shard-partitioned, layout declared in the
    // manifest) and the batch's meta delta publish in one manifest
    // rename, appends are LEDGERED (replayed in-plan → rejected; a
    // double append would double posting rows, doubling tf AND df and
    // inflating every BM25 score the doc appears in), and corpus stats
    // ride as per-batch delta rows summed at serve. Three checks under
    // the hash: result count, compaction_stable (pre/post-compaction
    // BM25 serves anti-joined both ways on the full ranked row), and
    // matches_flat — the bundle serve over base∪batch anti-joined both
    // ways against a one-shot writeBundle of the same corpus at a second
    // root, on BOTH the BM25 ranked list and the positional phrase
    // serve: ledgered incremental ingest must be byte-equivalent to
    // rebuilding from scratch.
    "x186_text_bundle_store" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val root = s"/tmp/graft/x186_tixb_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      val base = d.where(col("doc_id") % 4 =!= 3)
      val batch = d.where(col("doc_id") % 4 === 3)
      TextIndex.writeBundle(base, root, "tix", seedBatchIds = Seq("b0"))
      val a1 = TextIndex.appendBundle(s, root, "tix", batch, "b1")
      val r0 = TextIndex.appendBundle(s, root, "tix", batch, "b1")
      require(a1 && !r0, s"text bundle ledger broken: a1=$a1 r0=$r0")
      val terms = Seq("join", "hash", "vector")
      val pre = TextIndex.bm25SearchBundle(s, root, "tix", terms, k = 10)
      Catalog.compactBundle(s, root, "tix")
      require(!TextIndex.appendBundle(s, root, "tix", batch, "b1"),
        "compaction must not reopen the ledger")
      val post = TextIndex.bm25SearchBundle(s, root, "tix", terms, k = 10)
      val rebuilt = s"/tmp/graft/x186_rebuild_${storeTag(dir)}"
      deleteRecursively(new java.io.File(rebuilt))
      TextIndex.writeBundle(d, rebuilt, "tix")
      val ref = TextIndex.bm25SearchBundle(s, rebuilt, "tix", terms, k = 10)
      val key = Seq("doc_id", "score_x10k", "rank")
      def diff(a: DataFrame, b: DataFrame, as: String) =
        a.select(key.map(col): _*).join(b.select(key.map(col): _*),
          key, "left_anti").agg(count(lit(1)).as(as))
      val ph = TextIndex.phraseSearchBundle(s, root, "tix",
        Seq("table", "hash"))
      val phRef = TextIndex.phraseSearchBundle(s, rebuilt, "tix",
        Seq("table", "hash"))
      val pkey = Seq("doc_id", "n_occ")
      def pdiff(a: DataFrame, b: DataFrame, as: String) =
        a.select(pkey.map(col): _*).join(b.select(pkey.map(col): _*),
          pkey, "left_anti").agg(count(lit(1)).as(as))
      pre.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(diff(pre, post, "__m1")))
        .crossJoin(broadcast(diff(post, pre, "__m2")))
        .crossJoin(broadcast(diff(pre, ref, "__f1")))
        .crossJoin(broadcast(diff(ref, pre, "__f2")))
        .crossJoin(broadcast(pdiff(ph, phRef, "__p1")))
        .crossJoin(broadcast(pdiff(phRef, ph, "__p2")))
        .select(col("n_results"),
          (col("__m1") + col("__m2") === lit(0L)).as("compaction_stable"),
          (col("__f1") + col("__f2") + col("__p1") + col("__p2")
            === lit(0L)).as("matches_flat"))
    }),

    // VERSION-PINNED serving (x190) — the concurrency contract the
    // bundle protocol owes its readers, as a declared query: every
    // multi-member serve resolves its index version ONCE and threads it
    // through every member read, so a takedown (or retrain/compaction)
    // committing between a serve's reads can never produce an answer
    // that mixes versions. The plan serves the composed stack, commits
    // a TAKEDOWN of the serve's own top-2 results on both stores, then
    // (a) re-serves PINNED at the pre-takedown versions — the full
    // ranked (rank, nid, mmr4) rows must anti-join EMPTY both ways
    // against the pre-takedown answer (a single member read resolving
    // 'latest' would drop the removed docs from one retrieval side and
    // flip the hash), and (b) re-serves at latest — the removed ids
    // must be gone (count of violations = 0, earned). Pinned reads stay
    // valid until pruneBundleVersions retention — time-travel serving
    // on the serving stores, the PiT dimension story (x178/x184)
    // extended to the index artifacts.
    "x190_pinned_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val root = s"/tmp/graft/x190_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val tv = Catalog.latestBundleVersion(s, root, "tix").get
      val av = Catalog.latestBundleVersion(s, root, "ann").get
      def serve(tvv: Option[Long], avv: Option[Long]) =
        Similarity.threeStageServeBundle(s, root, "tix", root, "ann", e,
          terms, q, k = 10, fuseK = 30, poolK = 50, rerank = 150,
          nProbe = 6, textVersion = tvv, annVersion = avv)
      val pre = serve(None, None).persist()
      val rm = pre.where(col("rank") <= 2).select(col("nid").as("doc_id"))
      TextIndex.retractBundle(s, root, "tix", rm)
      AnnIndex.retractBundle(s, root, "ann", rm)
      val pinned = serve(Some(tv), Some(av))
      val now = serve(None, None)
      val key = Seq("rank", "nid", "mmr4")
      val m1 = pinned.select(key.map(col): _*)
        .join(pre.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__m1"))
      val m2 = pre.select(key.map(col): _*)
        .join(pinned.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__m2"))
      val viol = now.join(rm.select(col("doc_id").as("nid")), Seq("nid"),
          "left_semi")
        .agg(count(lit(1)).as("__viol"))
      pinned.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(m1)).crossJoin(broadcast(m2))
        .crossJoin(broadcast(viol))
        .select(col("n_results"),
          (col("__m1") + col("__m2") === lit(0L)).as("pinned_matches_pre"),
          (col("__viol") === lit(0L)).as("latest_clean"))
    }),

    // FILTERED batched serve (x191) — x180 × x183, the query a
    // production bulk evaluation actually runs: EIGHT queries in one
    // plan, every one constrained to an allowed-id set, on the atomic
    // bundle stores. The filter restricts the candidate set on BOTH
    // retrieval sides before their per-qid top-k (BM25 keeps GLOBAL
    // corpus statistics; the ANN side semi-joins the cell-pruned codes
    // before ADC), then per-qid fusion and the per-qid greedy run over
    // already-filtered pools. Checks under the hash: total count, all
    // 8 qids served at k, all_allowed EARNED (the engine counts
    // served-id violations per qid — must be 0), and a per-qid overlap
    // floor vs the exact FILTERED composition (batched stored
    // BM25-within ranks + brute force over the filtered corpus through
    // the SAME fusion and greedy). Re-margined round 15 (the x182
    // convention: ≥5 under the weakest point): at poolK=80 / nProbe=12
    // / rerank=400 the measured min-over-qids overlap (RecallProbe,
    // deterministic) is 8/10 sf0.001, 9/10 sf0.01, 8/10 sf0.1 — floor
    // 3 sits 5 under the weakest point (the prior 50/6/150 config
    // measured 5/6/4 with floor 2, a margin of only 2).
    "x191_filtered_batch_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val vocab = Seq("join", "hash", "vector", "scan", "merge",
        "table", "index", "sort")
      val batch = (0 until 8).map { i =>
        i.toLong -> Seq(vocab(i), vocab((i + 3) % 8)) }
      val qvecs = e.where(col("vec_id") < 8)
      val allowed = e.where(col("label") < 5).select(col("vec_id"))
      val root = s"/tmp/graft/x191_bnd_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val served = Similarity.threeStageServeBatchBundle(s, root, "tix",
        root, "ann", e, batch, qvecs, k = 10, fuseK = 30, poolK = 80,
        rerank = 400, nProbe = 12, within = Some(allowed)).persist()
      val viol = served
        .join(allowed.select(col("vec_id").as("nid")), Seq("nid"),
          "left_anti")
        .agg(count(lit(1)).as("__viol"))
      // the exact FILTERED composition: batched stored BM25-within
      // ranks, brute force over the filtered corpus, same per-qid
      // fusion, same per-qid integer greedy
      val lex = TextIndex.bm25SearchBatchBundle(s, root, "tix", batch,
          k = 80, within = Some(allowed))
        .select(col("qid"), col("doc_id").as("nid"),
          col("rank").cast("int").as("lrank"))
      val exactVec = Similarity.bruteForceKnn(
          e.join(allowed, Seq("vec_id"), "left_semi"), qvecs, k = 80)
        .select(col("qid"), col("nid"), col("rank").as("vrank"))
      val exactPool = Similarity.rrfFuseBatch(lex, exactVec, k = 30)
      val exact = Similarity.mmrRerankPoolBatch(e, qvecs,
        exactPool.select(col("qid"), col("nid")), k = 10)
      val perQid = served.select(col("qid"), col("nid"))
        .join(exact.select(col("qid"), col("nid")), Seq("qid", "nid"),
          "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("__ov"))
        .agg(min(col("__ov")).as("__min_ov"), count(lit(1)).as("__nq"))
      served.agg(count(lit(1)).as("n_results"),
          countDistinct(col("qid")).as("n_queries"))
        .crossJoin(broadcast(viol))
        .crossJoin(broadcast(perQid))
        .select(col("n_results"), col("n_queries"),
          (col("__viol") === lit(0L)).as("all_allowed"),
          (col("__min_ov") >= lit(3L) && col("__nq") === lit(8L))
            .as("overlap_ok"))
    }),

    // BENCHMARK RETIREMENT in the decontamination store (x192) — the
    // deletion story (x188) extended to the LAST stored artifact, with
    // the twist that makes naive deletion WRONG here: benchmarks share
    // boilerplate shingles, so dropping a retired suite's shingle SET
    // would also stop screening everything it shares with kept suites.
    // The bundle store keeps (sg, benchmark_id) PROVENANCE rows
    // (distinct per benchmark, shard-partitioned; the serve distincts
    // sg, so shared shingles still count once — DedupSpec pins serve
    // equivalence with the flat store), retirement drops exactly one
    // benchmark's rows in one atomic version (rewriteBundleMembers —
    // ledger preserved: the replayed ingest stays rejected after the
    // retract, require()d in-plan), and a shingle any KEPT benchmark
    // contributes survives by construction — set semantics, the
    // reverse of x148's append anti-join. The oracle replays the
    // DIRECT screen against the remaining benchmark from raw text —
    // the post-retirement store must be indistinguishable from never
    // having ingested the retired suite.
    "x192_benchmark_retirement" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = s"/tmp/graft/x192_shg_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      Dedup.writeShingleBundle(docs.where(col("doc_id") % 10 === 0),
        "bmA", root, "decon", "doc_id", "text", shingleSize = 8,
        seedBatchIds = Seq("bmA"))
      val i1 = Dedup.ingestShingleBundle(docs.where(col("doc_id") % 10 === 1),
        "bmB", root, "decon", "bmB", "doc_id", "text", shingleSize = 8)
      val r0 = Dedup.ingestShingleBundle(docs.where(col("doc_id") % 10 === 1),
        "bmB", root, "decon", "bmB", "doc_id", "text", shingleSize = 8)
      require(i1 && !r0, s"shingle bundle ledger broken: i1=$i1 r0=$r0")
      Dedup.retractShingleBundle(s, root, "decon", "bmA")
      require(!Dedup.ingestShingleBundle(docs.where(col("doc_id") % 10 === 1),
        "bmB", root, "decon", "bmB", "doc_id", "text", shingleSize = 8),
        "retirement must not reopen the ledger")
      Dedup.contaminationAgainstBundle(docs, root, "decon", "doc_id",
          "text", shingleSize = 8)
        .orderBy(col("doc_id"))
    }),

    // Blue/green REINDEX under serve (x193) — the last index-lifecycle
    // verb (create x182/x186 → append → compact → takedown x188 →
    // retire x192 → REINDEX): a drifting corpus eventually needs its
    // quantizer retrained / its tokenization redone, and the rebuild
    // must be a normal atomic commit under live traffic. reindexBundle
    // retrains and republishes ALL members as one superseding version
    // with the batch LEDGER carried over (a plain writeBundle resets
    // it — the plan proves a replayed historic batch is STILL rejected
    // after the rebuild, require()d), `supersedes` refuses the rebuild
    // if an append raced it (CatalogSpec pins the mechanism), and
    // serves pinned at the pre-reindex version keep answering it —
    // pinned_stable earns the blue/green claim by anti-joining the
    // pinned re-serve both ways against the pre-reindex answer on the
    // full row. The reindexed index itself is proven EXACTLY: both
    // quantizers changed (retrained on the full corpus, different
    // sample and iterations) yet the exhaustive serve (all cells
    // probed, corpus-wide rerank) must equal brute force — a code row
    // lost in the rebuild, or encoded/decoded through mismatched
    // codebooks, flips ann_matches_exact. The text side re-tokenizes
    // and must match a fresh one-shot writeBundle at a second root
    // row-for-row (text_matches_rebuild), with its ledger equally intact.
    "x193_reindex_under_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 3)
      val root = s"/tmp/graft/x193_ri_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // The ANN lifecycle (build 3/4 → append → pre-serve → retrain →
      // reindex → pinned/post serves → exact baseline) and the text
      // lifecycle (build half → append → reindex → serve → one-shot
      // rebuild reference) touch DIFFERENT bundles and share no state — the two
      // proof chains run overlapped (guide §2.6, graft.tools.Par); every
      // step inside each chain keeps its exact order, so each serve
      // still observes precisely the store state the proof needs
      val ((pre, pinned, post, exact), (tpost, tref)) =
        graft.tools.Par.together(
          () => {
            // ANN: build on 3/4, append 1/4, retrain on the whole corpus
            val base = e.where(col("vec_id") % 4 =!= 3)
            val batch = e.where(col("vec_id") % 4 === 3)
            def booksA = Embeddings.pqTrain(
              RelOps.hashSample(base, "vec_id", 0.25), m = 8, k = 16, iters = 3)
            AnnIndex.writeBundle(base, booksA, root, "ann", nCentroids = 16,
              trainIters = 4, spill = 2, seedBatchIds = Seq("b0"))
            require(AnnIndex.appendBundle(s, root, "ann", batch, "b1"),
              "x193: append did not land")
            val av = Catalog.latestBundleVersion(s, root, "ann").get
            val pre = AnnIndex.knnBundle(s, root, "ann", e, q, k = 10,
              rerank = 100000, nProbe = 16).persist()
            def booksB = Embeddings.pqTrain(
              RelOps.hashSample(e, "vec_id", 0.4), m = 8, k = 16, iters = 4)
            AnnIndex.reindexBundle(s, root, "ann", e, booksB, nCentroids = 16,
              trainIters = 2, spill = 1)
            require(!AnnIndex.appendBundle(s, root, "ann", batch, "b1"),
              "reindex must not reopen the ledger")
            val pinned = AnnIndex.knnBundle(s, root, "ann", e, q, k = 10,
              rerank = 100000, nProbe = 16, version = Some(av))
            val post = AnnIndex.knnBundle(s, root, "ann", e, q, k = 10,
              rerank = 100000, nProbe = 16)
            (pre, pinned, post, Similarity.bruteForceKnn(e, q, k = 10))
          },
          () => {
            // text: base+append, reindex (re-tokenize), one-shot rebuild ref
            TextIndex.writeBundle(docs.where(col("doc_id") % 2 === 0), root,
              "tix", seedBatchIds = Seq("t0"))
            require(TextIndex.appendBundle(s, root, "tix",
              docs.where(col("doc_id") % 2 === 1), "t1"), "x193: text append")
            TextIndex.reindexBundle(s, root, "tix", docs)
            require(!TextIndex.appendBundle(s, root, "tix",
              docs.where(col("doc_id") % 2 === 1), "t1"),
              "text reindex must not reopen the ledger")
            val terms = Seq("join", "hash", "vector")
            val tpost = TextIndex.bm25SearchBundle(s, root, "tix", terms, k = 10)
            val rebuilt = s"/tmp/graft/x193_rebuild_${storeTag(dir)}"
            deleteRecursively(new java.io.File(rebuilt))
            TextIndex.writeBundle(docs, rebuilt, "tix")
            (tpost, TextIndex.bm25SearchBundle(s, rebuilt, "tix", terms, k = 10))
          })
      val akey = Seq("qid", "nid", "rank")
      def adiff(a: DataFrame, b: DataFrame, as: String) =
        a.select(akey.map(col): _*).join(b.select(akey.map(col): _*),
          akey, "left_anti").agg(count(lit(1)).as(as))
      val tkey = Seq("doc_id", "score_x10k", "rank")
      def tdiff(a: DataFrame, b: DataFrame, as: String) =
        a.select(tkey.map(col): _*).join(b.select(tkey.map(col): _*),
          tkey, "left_anti").agg(count(lit(1)).as(as))
      post.agg(count(lit(1)).as("n_ann_results"))
        .crossJoin(broadcast(tpost.agg(count(lit(1)).as("n_text_results"))))
        .crossJoin(broadcast(adiff(pinned, pre, "__p1")))
        .crossJoin(broadcast(adiff(pre, pinned, "__p2")))
        .crossJoin(broadcast(adiff(post, exact, "__a1")))
        .crossJoin(broadcast(adiff(exact, post, "__a2")))
        .crossJoin(broadcast(tdiff(tpost, tref, "__t1")))
        .crossJoin(broadcast(tdiff(tref, tpost, "__t2")))
        .select(col("n_ann_results"), col("n_text_results"),
          (col("__p1") + col("__p2") === lit(0L)).as("pinned_stable"),
          (col("__a1") + col("__a2") === lit(0L)).as("ann_matches_exact"),
          (col("__t1") + col("__t2") === lit(0L)).as("text_matches_rebuild"))
    }),

    // DEPLOYMENT-PINNED stack serve (x194) — the cross-STORE
    // consistency x190's per-bundle pinning cannot give: each bundle's
    // commits are atomic, but a takedown spanning the text AND the ANN
    // store is necessarily TWO commits, and a serve resolving each
    // store's latest independently between them sees skew — the
    // removed ids already gone from one retrieval side, still fused in
    // from the other. The deployment pin (Catalog.commitDeployment) is
    // the stack's single atomic pointer: the (artifact, version) pairs
    // a serving tier answers from, committed as one tiny versioned
    // table; threeStageServeDeployed's ONLY mutable read is that
    // table's latest version. The plan proves the skew window CLOSED:
    // it serves at pin d1, runs the takedown through the round-15
    // library path (Catalog.takedownStack — ANN retract commits first,
    // sorted order; pin still d1 — the exact mid-maintenance state),
    // and the deployment serve taken between the two retract commits
    // anti-joins EMPTY both ways against the pre-takedown answer
    // (skew_free, earned — an unpinned serve here would mix
    // post-takedown codes with pre-takedown postings); then the text
    // takedown lands, the pin flips to d2 LAST (inside the same helper
    // call), and the serve at d2 counts zero removed-id violations
    // (latest_clean, earned).
    "x194_deployment_pinned_stack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val root = s"/tmp/graft/x194_dep_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val tv1 = Catalog.latestBundleVersion(s, root, "tix").get
      val av1 = Catalog.latestBundleVersion(s, root, "ann").get
      Catalog.commitDeployment(s, root, "serving",
        Map("tix" -> tv1, "ann" -> av1))
      def serve() = Similarity.threeStageServeDeployed(s, root, "serving",
        root, "tix", root, "ann", e, terms, q, k = 10, fuseK = 30,
        poolK = 50, rerank = 150, nProbe = 6)
      val pre = serve().persist()
      val rm = pre.where(col("rank") <= 2).select(col("nid").as("doc_id"))
      // the whole takedown is ONE library call since round 15
      // (Catalog.takedownStack): retract every pinned artifact, flip
      // the pin LAST, refuse partial coverage — the invariant lives in
      // the tested path, not in this query body. The mid-maintenance
      // serve is taken BETWEEN the two retract commits (inside the
      // second artifact's retract closure — serves materialize at
      // construction): the ANN store has already advanced, the pin is
      // still d1, the exact window where an unpinned serve would mix
      // post-takedown codes with pre-takedown postings.
      var mid: DataFrame = null
      Catalog.takedownStack(s, root, "serving", Map(
        "ann" -> ((_: Long) => AnnIndex.retractBundle(s, root, "ann", rm)),
        "tix" -> ((_: Long) => {
          mid = serve()
          TextIndex.retractBundle(s, root, "tix", rm)
        })))
      // takedownStack's documented ascending-name order ran 'ann' first,
      // so the closure above observed the window; fail diagnostically
      // (not with an NPE at the anti-join) if a rewire ever breaks that
      require(mid != null,
        "x194: mid-maintenance serve was never taken inside the takedown")
      val key = Seq("rank", "nid", "mmr4")
      val s1 = mid.select(key.map(col): _*)
        .join(pre.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__s1"))
      val s2 = pre.select(key.map(col): _*)
        .join(mid.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__s2"))
      val post = serve()
      val viol = post.join(rm.select(col("doc_id").as("nid")), Seq("nid"),
          "left_semi")
        .agg(count(lit(1)).as("__viol"))
      pre.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
        .crossJoin(broadcast(viol))
        .select(col("n_results"),
          (col("__s1") + col("__s2") === lit(0L)).as("skew_free"),
          (col("__viol") === lit(0L)).as("latest_clean"))
    }),

    // DEPLOYMENT-pinned BATCHED serve (x195) — x191 × x194: the bulk
    // request shape a production evaluation actually runs, against the
    // stack's ONE atomic pointer. x194 closed the cross-store skew
    // window for the single-query serve, but the batch path still
    // resolved each store's latest independently — N queries at once
    // through the exact window every takedown reopens. Here EIGHT
    // filtered queries ride threeStageServeBatchDeployed (the pin set
    // is read once — the only mutable read — and threaded as
    // textVersion/annVersion through every member read of both
    // stores), and the takedown is the round-15 library path
    // (Catalog.takedownStack: retract every pinned artifact, flip the
    // pin LAST, refuse partial coverage). skew_free is earned at the
    // same mid-maintenance point as x194's — the batch serve taken
    // between the two retract commits (ANN advanced, pin still d1)
    // anti-joins empty both ways against the pre-takedown answer on
    // the full (qid, rank, nid, mmr4) row for all eight queries at
    // once; after the flip, latest_clean counts removed-id violations
    // (= 0) and all_allowed counts filter violations (= 0).
    "x195_deployed_batch_serve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val vocab = Seq("join", "hash", "vector", "scan", "merge",
        "table", "index", "sort")
      val batch = (0 until 8).map { i =>
        i.toLong -> Seq(vocab(i), vocab((i + 3) % 8)) }
      val qvecs = e.where(col("vec_id") < 8)
      val allowed = e.where(col("label") < 5).select(col("vec_id"))
      val root = s"/tmp/graft/x195_dep_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      Catalog.commitDeployment(s, root, "serving", Map(
        "tix" -> Catalog.latestBundleVersion(s, root, "tix").get,
        "ann" -> Catalog.latestBundleVersion(s, root, "ann").get))
      def serve() = Similarity.threeStageServeBatchDeployed(s, root,
        "serving", root, "tix", root, "ann", e, batch, qvecs, k = 10,
        fuseK = 30, poolK = 80, rerank = 400, nProbe = 12,
        within = Some(allowed))
      val pre = serve().persist()
      val rm = pre.where(col("rank") <= 1).select(col("nid").as("doc_id"))
        .distinct()
      // mid-maintenance: ANN retracted, pin still d1 — the batch serve
      // must answer the pinned versions for all eight queries at once
      var mid: DataFrame = null
      Catalog.takedownStack(s, root, "serving", Map(
        "ann" -> ((_: Long) => AnnIndex.retractBundle(s, root, "ann", rm)),
        "tix" -> ((_: Long) => {
          mid = serve()
          TextIndex.retractBundle(s, root, "tix", rm)
        })))
      // same diagnostic guard as x194: the mid-window capture depends on
      // takedownStack's documented ascending-name retract order
      require(mid != null,
        "x195: mid-maintenance serve was never taken inside the takedown")
      val key = Seq("qid", "rank", "nid", "mmr4")
      val s1 = mid.select(key.map(col): _*)
        .join(pre.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__s1"))
      val s2 = pre.select(key.map(col): _*)
        .join(mid.select(key.map(col): _*), key, "left_anti")
        .agg(count(lit(1)).as("__s2"))
      val post = serve()
      val viol = post.join(rm.select(col("doc_id").as("nid")), Seq("nid"),
          "left_semi")
        .agg(count(lit(1)).as("__viol"))
      val outside = post
        .join(allowed.select(col("vec_id").as("nid")), Seq("nid"),
          "left_anti")
        .agg(count(lit(1)).as("__out"))
      pre.agg(count(lit(1)).as("n_results"),
          countDistinct(col("qid")).as("n_queries"))
        .crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
        .crossJoin(broadcast(viol)).crossJoin(broadcast(outside))
        .select(col("n_results"), col("n_queries"),
          (col("__s1") + col("__s2") === lit(0L)).as("skew_free"),
          (col("__viol") === lit(0L)).as("latest_clean"),
          (col("__out") === lit(0L)).as("all_allowed"))
    }),

    // DEPLOYMENT ROLLBACK (x196) — the incident-response verb that
    // completes the deployment story (pin x194 → batch x195 → roll
    // BACK): a takedown that removed the wrong ids, or a reindex that
    // tanked recall, must be reversible in one atomic flip WITHOUT
    // touching any store. Catalog.rollbackDeployment re-commits a
    // prior deployment version's pins as the new latest — history
    // stays immutable and monotone (the audit trail of what served
    // when survives), the old bundle versions are still on disk
    // because retention kept them while pinned, and the moment the
    // rollback lands they are pinned AGAIN (pruneBundleVersionsDeployed
    // re-protects them mechanically — no operator arithmetic). The
    // plan earns rollback_exact (the post-rollback serve anti-joins
    // empty both ways against the pre-takedown answer on the full
    // row) and retention_safe (deployment-derived prunes of BOTH
    // stores, then a re-serve, still exactly the pre-takedown answer),
    // and proves the guard the rollback exists for on a scratch store:
    // after the documented unsafe path (flip away, zero-grace prune
    // reclaims the old pinned version), rolling back to the reclaimed
    // pins REFUSES loudly at the flip (require()d in-plan) instead of
    // publishing pins that serve errors.
    "x196_deployment_rollback" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val root = s"/tmp/graft/x196_rb_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      val d1 = Catalog.commitDeployment(s, root, "serving", Map(
        "tix" -> Catalog.latestBundleVersion(s, root, "tix").get,
        "ann" -> Catalog.latestBundleVersion(s, root, "ann").get))
      def serve() = Similarity.threeStageServeDeployed(s, root, "serving",
        root, "tix", root, "ann", e, terms, q, k = 10, fuseK = 30,
        poolK = 50, rerank = 150, nProbe = 6)
      val pre = serve().persist()
      val rm = pre.where(col("rank") <= 2).select(col("nid").as("doc_id"))
      // the takedown lands through the library path... and turns out
      // to have removed the WRONG ids
      Similarity.takedownServingStack(s, root, "serving", "tix", "ann", rm)
      // one atomic flip back: serves answer the pre-takedown versions
      Catalog.rollbackDeployment(s, root, "serving", d1)
      val back = serve()
      // retention derives the live pins itself — the rolled-back-to
      // versions survive a keep=1 prune of both stores, no caller math
      Catalog.pruneBundleVersionsDeployed(s, root, "tix", keep = 1)
      Catalog.pruneBundleVersionsDeployed(s, root, "ann", keep = 1)
      val after = serve()
      val key = Seq("rank", "nid", "mmr4")
      def diff(a: DataFrame, b: DataFrame, as: String) =
        a.select(key.map(col): _*).join(b.select(key.map(col): _*),
          key, "left_anti").agg(count(lit(1)).as(as))
      // the guard, proven on a scratch store: flip away from v1, let a
      // ZERO-grace prune reclaim it (the documented unsafe path), and
      // the rollback to the reclaimed pins must refuse at the flip
      Catalog.commitBundle(Seq("m" -> (1L to 4L).toDF("id")), root,
        "scratch", Seq("s0"))
      val sd1 = Catalog.commitDeployment(s, root, "scratchdep",
        Map("scratch" -> 1L))
      Catalog.rewriteBundleMembers(s, root, "scratch",
        Map("m" -> ((m: DataFrame) => m.where(col("id") =!= 1L))))
      Catalog.commitDeployment(s, root, "scratchdep", Map("scratch" -> 2L))
      Catalog.pruneBundleVersionsDeployed(s, root, "scratch", keep = 1)
      val guarded =
        try { Catalog.rollbackDeployment(s, root, "scratchdep", sd1); false }
        catch { case ex: RuntimeException =>
          ex.getMessage.contains("does not resolve") }
      require(guarded,
        "x196: rollback to reclaimed pins must refuse loudly at the flip")
      pre.agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(diff(back, pre, "__b1")))
        .crossJoin(broadcast(diff(pre, back, "__b2")))
        .crossJoin(broadcast(diff(after, pre, "__a1")))
        .crossJoin(broadcast(diff(pre, after, "__a2")))
        .select(col("n_results"),
          (col("__b1") + col("__b2") === lit(0L)).as("rollback_exact"),
          (col("__a1") + col("__a2") === lit(0L)).as("retention_safe"))
    }),

    // DEPLOYMENT-FOLLOW serve (x197) — the streaming twin of the
    // deployment POINTER itself (ServeStream.deploymentFollowServe),
    // completing the twin matrix: every store has a streaming twin (13
    // files under streaming/), but the pointer binding them did not. A
    // long-lived serving process re-resolves the pin set ONCE per
    // request micro-batch, so a maintenance flip is visible only at a
    // batch boundary — never a torn mid-batch stack (the streaming
    // analog of x194's skew_free). This declared query runs the
    // stream's EXACT per-batch core (ServeStream.serveBatchFollowing —
    // the foreachBatch body calls the same function) twice with a
    // takedown flip between them and earns the boundary semantics
    // in-plan from the tagged answer log: no_torn_batch (each batch
    // answered by exactly ONE deployment version — countDistinct over
    // the per-row tags), flip_at_boundary (batch 1's version is batch
    // 0's + 1: the flip, whole and nothing else, landed between them),
    // pre_intact (the pre-flip batch still serves the ids about to be
    // removed), latest_clean (the post-flip batch serves none of
    // them). StreamingSpec runs the true micro-batch execution of the
    // same core: batch N wholly pre-flip, batch N+1 wholly post-flip,
    // a takedown landing between processAllAvailable calls.
    "x197_deployment_follow_serve" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val vocab = Seq("join", "hash", "vector", "scan", "merge",
        "table", "index", "sort")
      val requests = (0 until 4).map(i =>
        (i.toLong, Seq(vocab(i), vocab((i + 3) % 8)))).toDF("qid", "terms")
      val root = s"/tmp/graft/x197_fs_${storeTag(dir)}"
      deleteRecursively(new java.io.File(root))
      // alignment contract (see x176): index only the embedded docs
      // the two stores share no state and land in different bundles —
      // built overlapped (guide §2.6, graft.tools.Par): the text
      // tokenize+commit back-fills the cores the ANN train/encode/commit
      // chain leaves idle between its small jobs
      graft.tools.Par.together(
        () => TextIndex.writeBundle(docs.join(
          e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), root, "tix", seedBatchIds = Seq("b0")),
        () => AnnIndex.writeBundle(e, Embeddings.pqTrain(
          RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3),
          root, "ann", nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0")))
      Catalog.commitDeployment(s, root, "serving", Map(
        "tix" -> Catalog.latestBundleVersion(s, root, "tix").get,
        "ann" -> Catalog.latestBundleVersion(s, root, "ann").get))
      def batch(id: Long) = ServeStream.serveBatchFollowing(s, requests,
        root, "serving", root, "tix", root, "ann", e, k = 10, fuseK = 30,
        poolK = 50, rerank = 150, nProbe = 6)
        .withColumn("batch_id", lit(id))
      val b0 = batch(0L).persist()
      val rm = b0.where(col("rank") <= 1)
        .select(col("nid").as("doc_id")).distinct()
      Similarity.takedownServingStack(s, root, "serving", "tix", "ann", rm)
      val b1 = batch(1L).persist()
      val torn = b0.unionByName(b1).groupBy(col("batch_id"))
        .agg(countDistinct(col("dep_version")).as("__nv"))
        .agg(max(col("__nv")).as("__maxnv"), count(lit(1)).as("n_batches"))
      val v0 = b0.agg(max(col("dep_version")).as("__v0"))
      val v1 = b1.agg(min(col("dep_version")).as("__v1"))
      val pre = b0.join(rm.select(col("doc_id").as("nid")), Seq("nid"),
        "left_semi").agg(count(lit(1)).as("__pre"))
      val viol = b1.join(rm.select(col("doc_id").as("nid")), Seq("nid"),
        "left_semi").agg(count(lit(1)).as("__viol"))
      b0.unionByName(b1).agg(count(lit(1)).as("n_results"))
        .crossJoin(broadcast(torn)).crossJoin(broadcast(v0))
        .crossJoin(broadcast(v1)).crossJoin(broadcast(pre))
        .crossJoin(broadcast(viol))
        .select(col("n_results"), col("n_batches"),
          (col("__maxnv") === lit(1L)).as("no_torn_batch"),
          (col("__v1") === col("__v0") + 1).as("flip_at_boundary"),
          (col("__pre") > lit(0L)).as("pre_intact"),
          (col("__viol") === lit(0L)).as("latest_clean"))
    }),
  )

  /** Stored-index serving paths with the one-time build factored out —
    * Bench's `serve_only` section. The declared queries above time
    * build+serve together (right for the oracle gate, wrong for
    * trend-watching the number production pays repeatedly: at 100 TB the
    * store is built once at ingest and served forever). Each value is
    * (build, serve): Bench runs the build once per process, then times
    * ONLY serve reps. Serves are read-only and idempotent — x159's times
    * the per-batch ingest COMPUTE (batch signatures, stored-index join,
    * within-batch pairs) without the store-mutating append, so reps
    * don't grow the store under the timer (the append itself writes a
    * batch-sized file set — cost shown by the full query's timing).
    */
  def serveOnly: Map[String, ((SparkSession, String) => Unit, (SparkSession, String) => DataFrame)] = {
    def annIdx(dir: String) = s"/tmp/graft/serve_x95b_${storeTag(dir)}"
    def tixIdx(dir: String) = s"/tmp/graft/serve_x129b_${storeTag(dir)}"
    def shIdx(dir: String) = s"/tmp/graft/serve_x147_${storeTag(dir)}"
    def lshIdx(dir: String) = s"/tmp/graft/serve_x152_${storeTag(dir)}"
    def pairIdx(dir: String) = s"/tmp/graft/serve_x159_${storeTag(dir)}"
    def hybRoot(dir: String) = s"/tmp/graft/serve_x165b_${storeTag(dir)}"
    // the aligned bundle pair every composed serve builds on (x165/
    // x176/x180/x183 share it; each build fn rebuilds from scratch)
    def buildHybridBundles(s: SparkSession, dir: String): Unit = {
      val e = t(s, dir, "embeddings")
      deleteRecursively(new java.io.File(hybRoot(dir)))
      // aligned build (threeStageServeBundle contract): only embedded docs
      TextIndex.writeBundle(t(s, dir, "documents")
        .join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi"), hybRoot(dir), "tix", seedBatchIds = Seq("b0"))
      def books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      AnnIndex.writeBundle(e, books, hybRoot(dir), "ann", nCentroids = 16,
        trainIters = 4, spill = 2, seedBatchIds = Seq("b0"))
      ()
    }
    def lmRoot(dir: String) = s"/tmp/graft/serve_x166_${storeTag(dir)}"
    def cmpIdx(dir: String) = s"/tmp/graft/serve_x170_${storeTag(dir)}"
    def bndRoot(dir: String) = s"/tmp/graft/serve_x174_${storeTag(dir)}"
    def annbRoot(dir: String) = s"/tmp/graft/serve_x182_${storeTag(dir)}"
    def tixbRoot(dir: String) = s"/tmp/graft/serve_x186_${storeTag(dir)}"
    def pitRoot(dir: String) = s"/tmp/graft/serve_x184_${storeTag(dir)}"
    Map(
      // bundle-backed since round 14 (the declared queries re-pointed;
      // the serve rows stay trend-continuous — manifest resolution adds
      // ~nothing at serve time)
      "x95_stored_ann_index" -> ((
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          deleteRecursively(new java.io.File(annIdx(dir)))
          def books = Embeddings.pqTrain(
            RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
          AnnIndex.writeBundle(e, books, annIdx(dir), "ann",
            nCentroids = 16, trainIters = 4, spill = 2,
            seedBatchIds = Seq("b0"))
          ()
        },
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          AnnIndex.knnBundle(s, annIdx(dir), "ann", e,
            e.where(col("vec_id") < 8), k = 5, rerank = 150, nProbe = 6)
        })),
      "x129_stored_text_index" -> ((
        (s: SparkSession, dir: String) => {
          deleteRecursively(new java.io.File(tixIdx(dir)))
          TextIndex.writeBundle(t(s, dir, "documents"), tixIdx(dir),
            "tix", seedBatchIds = Seq("b0"))
          ()
        },
        (s: SparkSession, dir: String) =>
          TextIndex.booleanSearchBundle(s, tixIdx(dir), "tix",
            Seq("join", "hash", "vector")))),
      "x147_stored_decontamination" -> ((
        (s: SparkSession, dir: String) =>
          Dedup.writeShingleIndex(
            t(s, dir, "documents").where(col("doc_id") % 10 === 0),
            shIdx(dir), "doc_id", "text", shingleSize = 8),
        (s: SparkSession, dir: String) =>
          Dedup.contaminationAgainstIndex(t(s, dir, "documents"),
            shIdx(dir), "doc_id", "text", shingleSize = 8))),
      "x152_stored_lsh_index" -> ((
        (s: SparkSession, dir: String) => {
          val docs = t(s, dir, "documents")
          Dedup.writeLshIndex(docs.where(col("doc_id") % 5 < 3),
            lshIdx(dir), "doc_id", "text")
          Dedup.appendLshIndex(docs.where(col("doc_id") % 5 === 3),
            lshIdx(dir), "doc_id", "text")
        },
        (s: SparkSession, dir: String) => {
          val docs = t(s, dir, "documents")
          Dedup.matchesAgainstLshIndex(docs.where(col("doc_id") % 5 === 4),
            docs.where(col("doc_id") % 5 =!= 4), lshIdx(dir),
            "doc_id", "text", threshold = 0.9)
        })),
      // since round 13 an alias of the bundle ingest — kept so the
      // serve trend row stays continuous;
      // expect it to track x174's number
      "x159_pair_store_ingest" -> ((
        (s: SparkSession, dir: String) => {
          deleteRecursively(new java.io.File(pairIdx(dir)))
          Dedup.writePairBundle(
            t(s, dir, "documents").where(col("doc_id") % 5 =!= 4),
            pairIdx(dir), "neardup", "doc_id", "text", threshold = 0.9)
        },
        (s: SparkSession, dir: String) => {
          val docs = t(s, dir, "documents")
          val corpus = docs.where(col("doc_id") % 5 =!= 4)
          val batch = docs.where(col("doc_id") % 5 === 4)
          val stored = Catalog.readBundleTable(s, pairIdx(dir), "neardup",
              "buckets")
            .select(col("doc_id"), col("band").cast("int").as("band"),
              col("bucket"))
          // overlapped like the library ingest (guide §2.6): the two
          // match passes are independent and each materializes internally
          val (cross, within) = graft.tools.Par.together(
            () => Dedup.incrementalMinhashMatchesWithIndex(batch,
              corpus, stored, "doc_id", "text", threshold = 0.9),
            () => Dedup.minhashPairs(batch, "doc_id", "text",
              threshold = 0.9))
          cross.select(least(col("new_id"), col("corpus_id")).as("a"),
              greatest(col("new_id"), col("corpus_id")).as("b"),
              col("jaccard"))
            .unionByName(within.select(col("a"), col("b"), col("jaccard")))
        })),
      "x165_hybrid_stored_serve" -> ((
        (s: SparkSession, dir: String) => buildHybridBundles(s, dir),
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          Similarity.hybridStoredServeBundle(s, hybRoot(dir), "tix",
            hybRoot(dir), "ann", e,
            Seq("join", "hash", "vector"), e.where(col("vec_id") < 1),
            k = 10, poolK = 50, rerank = 150, nProbe = 6)
        })),
      "x166_dsir_from_store" -> ((
        (s: SparkSession, dir: String) => {
          val docs = t(s, dir, "documents")
          graft.streaming.DsirStream.freezeLms(docs,
            docs.where(col("doc_id") % 10 === 0), "text", vocabSize = 20,
            lmRoot(dir), "x166")
        },
        (s: SparkSession, dir: String) => {
          val (sv, sd, tv, td) =
            graft.streaming.DsirStream.loadLms(s, lmRoot(dir), "x166")
          TextStats.scoreImportance(t(s, dir, "documents"), "doc_id",
            "text", tv, td, sv, sd)
        })),
      // x170's REPEATED number is the serve off the already-compacted
      // store (the fragmented build + per-band compaction is one-time
      // maintenance); without this entry a post-compaction serve
      // regression hides behind the build+rewrite cost
      "x170_compacted_serve" -> ((
        (s: SparkSession, dir: String) => {
          val docs = t(s, dir, "documents")
          Dedup.writeLshIndex(docs.where(col("doc_id") % 5 < 2),
            cmpIdx(dir), "doc_id", "text")
          Dedup.appendLshIndex(docs.where(col("doc_id") % 5 === 2),
            cmpIdx(dir), "doc_id", "text")
          Dedup.appendLshIndex(docs.where(col("doc_id") % 5 === 3),
            cmpIdx(dir), "doc_id", "text")
          for (b <- 0 until 12)
            Catalog.compactPartition(s, cmpIdx(dir), "buckets",
              Seq(("band", b.toString)))
        },
        (s: SparkSession, dir: String) => {
          val docs = t(s, dir, "documents")
          Dedup.matchesAgainstLshIndex(docs.where(col("doc_id") % 5 === 4),
            docs.where(col("doc_id") % 5 =!= 4), cmpIdx(dir),
            "doc_id", "text", threshold = 0.9)
        })),
      // x174's repeated number is the per-batch bundle-ingest COMPUTE
      // (batch signatures, stored-bucket join, within-batch pairs) off
      // the committed bundle, without the store-mutating appendBundle —
      // reps must not grow the store under the timer (x159's pattern)
      "x174_pair_bundle_ingest" -> ((
        (s: SparkSession, dir: String) => {
          deleteRecursively(new java.io.File(bndRoot(dir)))
          Dedup.writePairBundle(
            t(s, dir, "documents").where(col("doc_id") % 5 =!= 4),
            bndRoot(dir), "neardup", "doc_id", "text", threshold = 0.9)
        },
        (s: SparkSession, dir: String) => {
          val docs = t(s, dir, "documents")
          val corpus = docs.where(col("doc_id") % 5 =!= 4)
          val batch = docs.where(col("doc_id") % 5 === 4)
          val stored = Catalog.readBundleTable(s, bndRoot(dir), "neardup",
              "buckets")
            .select(col("doc_id"), col("band").cast("int").as("band"),
              col("bucket"))
          // overlapped like the library ingest (guide §2.6): the two
          // match passes are independent and each materializes internally
          val (cross, within) = graft.tools.Par.together(
            () => Dedup.incrementalMinhashMatchesWithIndex(batch,
              corpus, stored, "doc_id", "text", threshold = 0.9),
            () => Dedup.minhashPairs(batch, "doc_id", "text",
              threshold = 0.9))
          cross.select(least(col("new_id"), col("corpus_id")).as("a"),
              greatest(col("new_id"), col("corpus_id")).as("b"),
              col("jaccard"))
            .unionByName(within.select(col("a"), col("b"), col("jaccard")))
        })),
      "x176_three_stage_serve" -> ((
        (s: SparkSession, dir: String) => buildHybridBundles(s, dir),
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          Similarity.threeStageServeBundle(s, hybRoot(dir), "tix",
            hybRoot(dir), "ann", e,
            Seq("join", "hash", "vector"), e.where(col("vec_id") < 1),
            k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6)
        })),
      // same stores as x165/x176 — the batched number to read against
      // 8× x176's single-query serve: one plan amortizes the postings/
      // codes scans and the fixed per-plan overhead across the batch
      "x183_batched_serve" -> ((
        (s: SparkSession, dir: String) => buildHybridBundles(s, dir),
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          val vocab = Seq("join", "hash", "vector", "scan", "merge",
            "table", "index", "sort")
          val batch = (0 until 8).map { i =>
            i.toLong -> Seq(vocab(i), vocab((i + 3) % 8)) }
          Similarity.threeStageServeBatchBundle(s, hybRoot(dir), "tix",
            hybRoot(dir), "ann", e,
            batch, e.where(col("vec_id") < 8), k = 10, fuseK = 30,
            poolK = 50, rerank = 150, nProbe = 6)
        })),
      // same stores as x183 — the filtered batched number: the filter
      // is a serve-time argument on BOTH retrieval sides, amortized
      // across the batch exactly like the unfiltered plan
      "x191_filtered_batch_serve" -> ((
        (s: SparkSession, dir: String) => buildHybridBundles(s, dir),
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          val vocab = Seq("join", "hash", "vector", "scan", "merge",
            "table", "index", "sort")
          val batch = (0 until 8).map { i =>
            i.toLong -> Seq(vocab(i), vocab((i + 3) % 8)) }
          Similarity.threeStageServeBatchBundle(s, hybRoot(dir), "tix",
            hybRoot(dir), "ann", e,
            batch, e.where(col("vec_id") < 8), k = 10, fuseK = 30,
            poolK = 80, rerank = 400, nProbe = 12,
            within = Some(e.where(col("label") < 5).select(col("vec_id"))))
        })),
      // same stores + filter as x191, resolved through a committed
      // deployment pin instead of per-bundle latest: the serve-time
      // delta this row watches is ONE tiny versioned-table read (the
      // pin set) — deployment resolution must add ~nothing over x191
      "x195_deployed_batch_serve" -> ((
        (s: SparkSession, dir: String) => {
          buildHybridBundles(s, dir)
          Catalog.commitDeployment(s, hybRoot(dir), "serving", Map(
            "tix" -> Catalog.latestBundleVersion(s, hybRoot(dir), "tix").get,
            "ann" -> Catalog.latestBundleVersion(s, hybRoot(dir), "ann").get))
          ()
        },
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          val vocab = Seq("join", "hash", "vector", "scan", "merge",
            "table", "index", "sort")
          val batch = (0 until 8).map { i =>
            i.toLong -> Seq(vocab(i), vocab((i + 3) % 8)) }
          Similarity.threeStageServeBatchDeployed(s, hybRoot(dir),
            "serving", hybRoot(dir), "tix", hybRoot(dir), "ann", e,
            batch, e.where(col("vec_id") < 8), k = 10, fuseK = 30,
            poolK = 80, rerank = 400, nProbe = 12,
            within = Some(e.where(col("label") < 5).select(col("vec_id"))))
        })),
      // the follow-mode per-batch core (x197): the timed number is ONE
      // request micro-batch through serveBatchFollowing — deployment
      // resolution (a handful of rows) + the deployed batch serve; the
      // delta this row watches is follow-mode overhead over x195's
      // direct deployed batch
      "x197_deployment_follow_serve" -> ((
        (s: SparkSession, dir: String) => {
          buildHybridBundles(s, dir)
          Catalog.commitDeployment(s, hybRoot(dir), "serving", Map(
            "tix" -> Catalog.latestBundleVersion(s, hybRoot(dir), "tix").get,
            "ann" -> Catalog.latestBundleVersion(s, hybRoot(dir), "ann").get))
          ()
        },
        (s: SparkSession, dir: String) => {
          import s.implicits._
          val e = t(s, dir, "embeddings")
          val vocab = Seq("join", "hash", "vector", "scan", "merge",
            "table", "index", "sort")
          val requests = (0 until 4).map(i =>
            (i.toLong, Seq(vocab(i), vocab((i + 3) % 8)))).toDF("qid", "terms")
          graft.streaming.ServeStream.serveBatchFollowing(s, requests,
            hybRoot(dir), "serving", hybRoot(dir), "tix", hybRoot(dir),
            "ann", e, k = 10, fuseK = 30, poolK = 50, rerank = 150,
            nProbe = 6)
        })),
      // the bundle-backed ANN index: built + appended once (untimed),
      // the timed number is the manifest-resolved cell-pruned serve —
      // trend-comparable to x95's one-shot bundle serve beside it
      "x182_ann_bundle_store" -> ((
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          deleteRecursively(new java.io.File(annbRoot(dir)))
          val base = e.where(col("vec_id") % 4 =!= 3)
          def books = Embeddings.pqTrain(
            RelOps.hashSample(base, "vec_id", 0.25), m = 8, k = 16, iters = 3)
          AnnIndex.writeBundle(base, books, annbRoot(dir), "ann",
            nCentroids = 16, trainIters = 4, spill = 2,
            seedBatchIds = Seq("b0"))
          AnnIndex.appendBundle(s, annbRoot(dir), "ann",
            e.where(col("vec_id") % 4 === 3), "b1")
          ()
        },
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          AnnIndex.knnBundle(s, annbRoot(dir), "ann", e,
            e.where(col("vec_id") < 8), k = 5, rerank = 150, nProbe = 6)
        })),
      // same stores as x165/x176 — the filter is a serve-time argument,
      // not an index property, which is exactly the point measured here
      "x180_filtered_serve" -> ((
        (s: SparkSession, dir: String) => buildHybridBundles(s, dir),
        (s: SparkSession, dir: String) => {
          val e = t(s, dir, "embeddings")
          Similarity.threeStageServeBundle(s, hybRoot(dir), "tix",
            hybRoot(dir), "ann", e,
            Seq("join", "hash", "vector"), e.where(col("vec_id") < 1),
            k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6,
            within = Some(e.where(col("label") < 5).select(col("vec_id"))))
        })),
      // the PiT serve number production pays repeatedly: version pick
      // (broadcast range probe) + ONE equi-join against the stored
      // interval table — the collapse ran once at build, V snapshots
      // never scanned under the timer
      "x184_pit_interval_serve" -> ((
        (s: SparkSession, dir: String) => {
          import s.implicits._
          val root = pitRoot(dir)
          deleteRecursively(new java.io.File(root))
          val base = t(s, dir, "customer")
            .select(col("c_custkey"),
              round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"))
          val v2d = base.withColumn("bal_c", col("bal_c") +
            when(col("c_custkey") % 7 === 0, 10000L).otherwise(0L))
          val v3d = v2d.withColumn("bal_c", col("bal_c") +
            when(col("c_custkey") % 5 === 0, 5000L).otherwise(0L))
          val vs = Seq(base, v2d, v3d)
            .map(d => Catalog.commitBundle(Seq("cust" -> d), root, "cust"))
          val hist = vs.map(v => Catalog.readBundleTable(s, root, "cust", "cust", Some(v))
              .withColumn("version", lit(v)))
            .reduce(_ unionByName _)
          Temporal.scd2(hist, Seq("c_custkey"), "version", Seq("bal_c"))
            .write.mode("overwrite").parquet(s"$root/intervals.parquet")
        },
        (s: SparkSession, dir: String) => {
          import s.implicits._
          val iv = s.read.parquet(s"${pitRoot(dir)}/intervals.parquet")
          val bounds = Seq(1L, 2L, 3L)
            .zip(Seq("2024-01-01 00:00:00", "2024-01-11 00:00:00",
              "2024-01-21 00:00:00")).toDF("version", "vfs")
            .withColumn("valid_from", to_timestamp(col("vfs"))).drop("vfs")
          val intervals = Temporal.validityIntervals(bounds, "valid_from",
            to_timestamp(lit("2100-01-01 00:00:00")))
          val ev = Catalog.events(s, dir).select(col("user_id"),
            col("event_type"), col("ts"),
            round(col("value") * 1e6, 0).cast("long").as("val6"))
          val picked = Temporal.broadcastRangeJoin(ev, intervals, "ts",
            "valid_from", "__valid_to")
          picked.join(iv,
              picked("user_id") === iv("c_custkey") &&
                iv("eff_from") <= picked("version") &&
                (iv("eff_to").isNull || picked("version") < iv("eff_to")))
            .groupBy(picked("version"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("val6")).as("sum_val6"),
              sum(col("bal_c")).as("sum_bal_c"))
        })),
      // the text twin of x182's serve trend: BM25 off postings grown by
      // an append (two manifest-resolved file sets, the shard predicate
      // pruning each set's listing) — should track x129's one-shot serve
      "x186_text_bundle_store" -> ((
        (s: SparkSession, dir: String) => {
          val d = t(s, dir, "documents")
          TextIndex.writeBundle(d.where(col("doc_id") % 4 =!= 3),
            tixbRoot(dir), "tix", seedBatchIds = Seq("b0"))
          TextIndex.appendBundle(s, tixbRoot(dir), "tix",
            d.where(col("doc_id") % 4 === 3), "b1")
          ()
        },
        (s: SparkSession, dir: String) =>
          TextIndex.bm25SearchBundle(s, tixbRoot(dir), "tix",
            Seq("join", "hash", "vector"), k = 10))),
    )
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.tools.LocalFs.deleteRecursively(f)

  /** x153's oracle, generated for a fixed round count: each BPE round is
    * one CTE trio — pair counts off the previous word table, the argmax
    * pair (count desc, left asc, right asc), and the words with that
    * merge applied via the same single-pass `replace`. Fixed rounds keep
    * the replay plain SQL; the separator is chr(31), matching
    * [[graft.operators.Bpe.Sep]].
    */
  /** The BPE oracles, generated for a fixed round count: each training
    * round is one CTE trio — pair counts off the previous word table,
    * the argmax pair (count desc, left asc, right asc), and the words
    * with that merge applied via the same single-pass `replace`. Every
    * CTE is MATERIALIZED: w{r} is referenced twice, so un-materialized
    * inlining would re-expand the whole chain 2^rounds times. Fixed
    * rounds keep the replay plain SQL; chr(31) matches
    * [[graft.operators.Bpe.Sep]].
    *
    * `trainWhere = None` (x153) trains on every word and serves token
    * counts straight off the final training table. `trainWhere =
    * Some(pred)` (x155) trains only on words of documents matching
    * `pred`, then applies the frozen merges to ALL words through a
    * separate aw-chain — the stored-model serve, where OOV words simply
    * match fewer merges.
    */
  /** x171's oracle, generated for fixed (k, poolK): pool + pairwise-sim
    * CTEs, then every greedy MMR step unrolled as one materialized CTE
    * pair (the step's argmax row, the cumulative selection). Integer
    * step scores (×10⁴-rounded cosines) make each argmax engine-exact;
    * ties break on ascending id, mirroring the operator.
    */
  private def mmrOracleSql(k: Int, poolK: Int): String = {
    val steps = (2 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT c.nid, c.qsim4 - max(p.psim4) AS score4
         |  FROM cand c JOIN ps p ON p.na = c.nid
         |    AND p.nb IN (SELECT nid FROM sel${i - 1})
         |  WHERE c.nid NOT IN (SELECT nid FROM sel${i - 1})
         |  GROUP BY c.nid, c.qsim4
         |  ORDER BY score4 DESC, c.nid LIMIT 1),
         |sel$i AS MATERIALIZED (
         |  SELECT nid FROM sel${i - 1} UNION ALL SELECT nid FROM s$i)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to k).map(i =>
      s"SELECT CAST($i AS INTEGER) AS rank, nid, score4 AS mmr4 FROM s$i")
      .mkString("\n  UNION ALL ")
    s"""WITH qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT c.vec_id AS nid,
       |    list_cosine_similarity((SELECT v FROM qv), c.embedding::DOUBLE[]) AS sim
       |  FROM embeddings c WHERE c.vec_id <> 0),
       |cand AS MATERIALIZED (
       |  SELECT nid, CAST(round(sim * 10000, 0) AS BIGINT) AS qsim4
       |  FROM (SELECT nid, sim,
       |      row_number() OVER (ORDER BY sim DESC, nid) AS rnk FROM scored)
       |  WHERE rnk <= $poolK),
       |ps AS MATERIALIZED (
       |  SELECT a.nid AS na, b.nid AS nb,
       |    CAST(round(list_cosine_similarity(ea.embedding::DOUBLE[],
       |      eb.embedding::DOUBLE[]) * 10000, 0) AS BIGINT) AS psim4
       |  FROM cand a JOIN cand b ON a.nid <> b.nid
       |    JOIN embeddings ea ON ea.vec_id = a.nid
       |    JOIN embeddings eb ON eb.vec_id = b.nid),
       |s1 AS MATERIALIZED (
       |  SELECT nid, qsim4 AS score4 FROM cand ORDER BY qsim4 DESC, nid LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT nid FROM s1),
       |$steps
       |SELECT * FROM (
       |  $finals)
       |ORDER BY rank""".stripMargin
  }

  private def bpeOracleSql(rounds: Int, trainWhere: Option[String]): String = {
    val head =
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
         |      x -> x <> '') AS toks
         |  FROM documents),
         |dw AS MATERIALIZED (SELECT doc_id, source, unnest(toks) AS word FROM d),
         |w0 AS MATERIALIZED (
         |  SELECT word, count(*) AS freq,
         |    chr(31) || regexp_replace(word, '(.)', '\\1' || chr(31), 'g') AS sym
         |  FROM dw${trainWhere.map(p => s" WHERE $p").getOrElse("")} GROUP BY word)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""pr$r AS MATERIALIZED (
         |  SELECT p.l AS l, p.r AS r, sum(freq) AS cnt
         |  FROM (SELECT freq,
         |          unnest([{'l': s[i], 'r': s[i+1]} for i in range(1, len(s))]) AS p
         |        FROM (SELECT freq, list_filter(string_split(sym, chr(31)), x -> x <> '') AS s
         |              FROM w${r - 1}))
         |  GROUP BY p.l, p.r),
         |b$r AS MATERIALIZED (SELECT l, r FROM pr$r ORDER BY cnt DESC, l, r LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(sym,
         |      chr(31) || (SELECT l FROM b$r) || chr(31) || (SELECT r FROM b$r) || chr(31),
         |      chr(31) || (SELECT l FROM b$r) || (SELECT r FROM b$r) || chr(31)) AS sym
         |  FROM w${r - 1})""".stripMargin
    }
    // serve side: straight off the training chain (x153), or the frozen
    // merges re-applied to ALL distinct words (x155's stored-model serve)
    val applyCtes = if (trainWhere.isEmpty) Nil else {
      val aw0 =
        """aw0 AS MATERIALIZED (
          |  SELECT DISTINCT word,
          |    chr(31) || regexp_replace(word, '(.)', '\1' || chr(31), 'g') AS sym
          |  FROM dw)""".stripMargin
      val chain = (1 to rounds).map { r =>
        s"""aw$r AS MATERIALIZED (
           |  SELECT word,
           |    replace(sym,
           |      chr(31) || (SELECT l FROM b$r) || chr(31) || (SELECT r FROM b$r) || chr(31),
           |      chr(31) || (SELECT l FROM b$r) || (SELECT r FROM b$r) || chr(31)) AS sym
           |  FROM aw${r - 1})""".stripMargin
      }
      aw0 +: chain
    }
    val servedWords = if (trainWhere.isEmpty) s"w$rounds" else s"aw$rounds"
    val tail =
      s"""wt AS MATERIALIZED (
         |  SELECT word,
         |    CAST(len(list_filter(string_split(sym, chr(31)), x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM $servedWords)
         |SELECT dw.source AS source, CAST(count(*) AS BIGINT) AS n_tokens_ws,
         |  CAST(sum(wt.n_tok) AS BIGINT) AS n_tokens_bpe
         |FROM dw JOIN wt USING (word)
         |GROUP BY dw.source ORDER BY source""".stripMargin
    ((Seq(head) ++ roundCtes ++ applyCtes) :+ tail).mkString(",\n")
  }

  /** The PiT ladder replay shared by x178 (snapshot-union dim) and
    * x184 (interval-table dim) — ONE oracle string, because the two
    * serves must produce the identical table.
    */
  private val pitLadderOracleSql: String =
      """WITH base AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer),
        |d AS (
        |  SELECT 1 AS v, c_custkey, bal_c FROM base
        |  UNION ALL
        |  SELECT 2, c_custkey,
        |    bal_c + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END
        |  FROM base
        |  UNION ALL
        |  SELECT 3, c_custkey,
        |    bal_c + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END
        |          + CASE WHEN c_custkey % 5 = 0 THEN 5000 ELSE 0 END
        |  FROM base),
        |ev AS (
        |  SELECT user_id, event_type,
        |    CAST(round(value * 1e6) AS BIGINT) AS val6,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-21 00:00:00' THEN 3
        |         WHEN ts >= TIMESTAMP '2024-01-11 00:00:00' THEN 2
        |         ELSE 1 END AS v
        |  FROM events)
        |SELECT CAST(ev.v AS BIGINT) AS version, event_type,
        |  count(*)::BIGINT AS n,
        |  sum(ev.val6)::BIGINT AS sum_val6,
        |  sum(d.bal_c)::BIGINT AS sum_bal_c
        |FROM ev JOIN d ON d.v = ev.v AND d.c_custkey = ev.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // all 8 training rounds replayed verbatim — pair counts, tie-break,
    // and single-pass merge application — then the frozen model applied
    "x153_bpe_tokens" -> bpeOracleSql(8, None),
    // trains on the even-doc half only, then re-applies the frozen
    // merges to EVERY word (the aw-chain) — serve-off-store semantics
    "x155_bpe_from_store" -> bpeOracleSql(8, Some("doc_id % 2 = 0")),
    // four peel rounds unrolled verbatim; degrees measured within the
    // surviving subgraph, exactly as the engine computes them
    "x156_kcore_trade" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || o_custkey AS cu, 's' || l_suppkey AS su
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT cu AS src, su AS dst FROM e0
        |      UNION ALL SELECT su AS src, cu AS dst FROM e0),
        |n0 AS (SELECT DISTINCT src AS node FROM e),
        |d1 AS (SELECT e.src AS node, count(*) AS degree FROM e
        |  JOIN n0 a ON e.src = a.node JOIN n0 b ON e.dst = b.node GROUP BY e.src),
        |n1 AS (SELECT node FROM d1 WHERE degree >= 8),
        |d2 AS (SELECT e.src AS node, count(*) AS degree FROM e
        |  JOIN n1 a ON e.src = a.node JOIN n1 b ON e.dst = b.node GROUP BY e.src),
        |n2 AS (SELECT node FROM d2 WHERE degree >= 8),
        |d3 AS (SELECT e.src AS node, count(*) AS degree FROM e
        |  JOIN n2 a ON e.src = a.node JOIN n2 b ON e.dst = b.node GROUP BY e.src),
        |n3 AS (SELECT node FROM d3 WHERE degree >= 8),
        |d4 AS (SELECT e.src AS node, count(*) AS degree FROM e
        |  JOIN n3 a ON e.src = a.node JOIN n3 b ON e.dst = b.node GROUP BY e.src),
        |n4 AS (SELECT node FROM d4 WHERE degree >= 8),
        |d5 AS (SELECT e.src AS node, count(*) AS degree FROM e
        |  JOIN n4 a ON e.src = a.node JOIN n4 b ON e.dst = b.node GROUP BY e.src)
        |SELECT node, CAST(degree AS BIGINT) AS degree FROM d5
        |ORDER BY node""".stripMargin,
    // same baskets, directed pair join, identical ratio arithmetic in
    // the same expression order
    "x164_association_rules" ->
      """WITH d AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
        |ok AS (SELECT u FROM d GROUP BY u HAVING count(*) <= 1000),
        |d2 AS (SELECT d.u, d.t FROM d JOIN ok USING (u)),
        |n AS (SELECT count(DISTINCT u) AS nu FROM d2),
        |pt AS (SELECT t, count(*) AS nt FROM d2 GROUP BY t),
        |p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_users
        |      FROM d2 a JOIN d2 b ON a.u = b.u AND a.t <> b.t GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n_users AS BIGINT) AS n_users,
        |  (round(n_users::DOUBLE / nu, 6) + 0) AS support,
        |  (round(n_users::DOUBLE / na.nt, 6) + 0) AS confidence,
        |  (round(n_users::DOUBLE * nu / (na.nt::DOUBLE * nb.nt), 6) + 0) AS lift
        |FROM p
        |  JOIN pt na ON na.t = p.type_a
        |  JOIN pt nb ON nb.t = p.type_b
        |  CROSS JOIN n
        |WHERE round(n_users::DOUBLE / nu, 6) >= 0.05
        |ORDER BY type_a, type_b""".stripMargin,
    // same data-frontier semantics: epoch microseconds, floor division,
    // trailing window measured from the global max timestamp
    "x163_ingest_freshness" ->
      """WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events),
        |e AS (SELECT event_type, epoch_us(ts) AS us FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST((max(gmax) - max(us)) // 60000000 AS BIGINT) AS mins_since_last,
        |  CAST(coalesce(sum(CASE WHEN us >= gmax - 86400000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_last_24h
        |FROM e, g GROUP BY event_type ORDER BY event_type""".stripMargin,
    // per-id counts then full-outer — the same facts the slow way
    "x162_integrity_audit" ->
      """WITH lc AS (SELECT o_custkey AS id, count(*) AS ln FROM orders GROUP BY 1),
        |rc AS (SELECT c_custkey AS id, count(*) AS rn FROM customer GROUP BY 1),
        |j AS (SELECT * FROM lc FULL JOIN rc USING (id))
        |SELECT CAST(sum(coalesce(ln, 0)) AS BIGINT) AS n_left,
        |  CAST(sum(coalesce(rn, 0)) AS BIGINT) AS n_right,
        |  CAST(count(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL THEN 1 END) AS BIGINT) AS n_matched_ids,
        |  CAST(count(CASE WHEN ln IS NOT NULL AND rn IS NULL THEN 1 END) AS BIGINT) AS n_left_only_ids,
        |  CAST(count(CASE WHEN ln IS NULL AND rn IS NOT NULL THEN 1 END) AS BIGINT) AS n_right_only_ids,
        |  CAST(count(CASE WHEN ln > 1 THEN 1 END) AS BIGINT) AS n_left_dup_ids,
        |  CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_right_dup_ids
        |FROM j""".stripMargin,
    // shape contract like x95: k fused results for the one query;
    // overlap_ok is the earned floor of the stored-index serve's fusion
    // against the exact fusion (the ANN side is the only approximation)
    "x165_hybrid_stored_serve" ->
      "SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS overlap_ok",
    // x84's replay VERBATIM: the stored-LM serve must be row-identical
    // to in-query LM fitting — both LMs re-fitted in SQL, same estimator
    "x166_dsir_from_store" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |scnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |stot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM scnt),
        |svoc AS (SELECT tok, c FROM scnt ORDER BY c DESC, tok LIMIT 20),
        |svn AS (SELECT count(*) AS v FROM svoc),
        |ttk AS (SELECT tok FROM tk WHERE doc_id % 10 = 0),
        |tcnt AS (SELECT tok, count(*) AS c FROM ttk GROUP BY 1),
        |ttot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tcnt),
        |tvoc AS (SELECT tok, c FROM tcnt ORDER BY c DESC, tok LIMIT 20),
        |tvn AS (SELECT count(*) AS v FROM tvoc),
        |sc AS (
        |  SELECT tk.doc_id,
        |    avg(log10((coalesce(tvoc.c, 0) + 1) / (ttot.n + tvn.v + 1.0))
        |      - log10((coalesce(svoc.c, 0) + 1) / (stot.n + svn.v + 1.0))) AS w
        |  FROM tk LEFT JOIN tvoc USING (tok) LEFT JOIN svoc USING (tok),
        |    stot, svn, ttot, tvn
        |  GROUP BY 1)
        |SELECT d.doc_id, (round(sc.w, 6) + 0) AS dsir_w
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // same LM replay (corpus-wide, add-one, top-20 vocab), then the
    // integer ladder: per-token nlp rounded to a x1e6 BIGINT before the
    // per-source sum, one final division over exact totals
    "x167_source_xent" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        |vn AS (SELECT count(*) AS v FROM voc),
        |sc AS (
        |  SELECT tk.source,
        |    CAST(round(-ln((coalesce(voc.c, 0) + 1) / (tot.n + vn.v + 1.0))
        |      * 1000000, 0) AS BIGINT) AS nlp6
        |  FROM tk LEFT JOIN voc USING (tok), tot, vn)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
        |  (round(sum(nlp6)::DOUBLE / count(*) / 1000000, 6) + 0) AS xent_nats
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    // both side-ranks replayed with the same tie-breaks (score desc, id),
    // fused with the same two-term rrf sum, re-ranked identically
    "x161_hybrid_rrf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |q AS (SELECT doc_id AS qid, sh AS qsh FROM s WHERE doc_id < 5),
        |lex AS (
        |  SELECT qid, s.doc_id AS nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      CASE WHEN len(list_distinct(list_concat(qsh, s.sh))) = 0 THEN 1.0
        |        ELSE len(list_intersect(qsh, s.sh))::DOUBLE /
        |          len(list_distinct(list_concat(qsh, s.sh))) END DESC,
        |      s.doc_id) AS lrank
        |  FROM q, s WHERE s.doc_id <> qid),
        |lexr AS (SELECT qid, nid, lrank FROM lex WHERE lrank <= 50),
        |qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
        |vec AS (
        |  SELECT qv.qid, c.vec_id AS nid,
        |    row_number() OVER (PARTITION BY qv.qid ORDER BY
        |      list_cosine_similarity(qv.v, c.embedding::DOUBLE[]) DESC, c.vec_id) AS vrank
        |  FROM qv, embeddings c WHERE c.vec_id <> qv.qid),
        |vecr AS (SELECT qid, nid, vrank FROM vec WHERE vrank <= 50),
        |f AS (
        |  SELECT coalesce(l.qid, v.qid) AS qid, coalesce(l.nid, v.nid) AS nid,
        |    coalesce(1.0 / (60 + l.lrank), 0) + coalesce(1.0 / (60 + v.vrank), 0) AS rrf
        |  FROM lexr l FULL JOIN vecr v ON l.qid = v.qid AND l.nid = v.nid),
        |r AS (SELECT qid, nid, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rank
        |  FROM f)
        |SELECT qid, nid, (round(rrf, 6) + 0) AS rrf, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // same shingle semantics as x2's replay (short docs collapse to one
    // whole-text shingle), distinct per source, exact set arithmetic
    "x160_source_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |ss AS (SELECT DISTINCT source, unnest(sh) AS sg FROM s),
        |sz AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
        |i AS (SELECT a.source AS source_a, b.source AS source_b,
        |        count(*) AS n_inter
        |      FROM ss a JOIN ss b ON a.sg = b.sg AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, CAST(n_inter AS BIGINT) AS n_inter,
        |  (round(n_inter::DOUBLE / (na.n + nb.n - n_inter), 6) + 0) AS jaccard,
        |  (round(n_inter::DOUBLE / least(na.n, nb.n), 6) + 0) AS containment
        |FROM i JOIN sz na ON na.source = i.source_a
        |  JOIN sz nb ON nb.source = i.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // the bundle's pair member after an atomic ledgered ingest (plus a
    // rejected replay) must equal the exact O(n²) truth — x159's replay
    "x174_pair_bundle_ingest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.9 ORDER BY a, b""".stripMargin,
    // the stored table after three-batch incremental ingest must equal
    // the exact O(n²) pair truth of the whole corpus — x2's replay
    "x159_pair_store_ingest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.9 ORDER BY a, b""".stripMargin,
    // same distinct baskets, co-partitioned pair join, rounded support
    // compared against the threshold on both sides
    "x158_frequent_itemsets" ->
      """WITH d AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
        |ok AS (SELECT u FROM d GROUP BY u HAVING count(*) <= 1000),
        |d2 AS (SELECT d.u, d.t FROM d JOIN ok USING (u)),
        |n AS (SELECT count(DISTINCT u) AS nu FROM d2),
        |p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_users
        |      FROM d2 a JOIN d2 b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n_users AS BIGINT) AS n_users,
        |  (round(n_users::DOUBLE / nu, 6) + 0) AS support
        |FROM p, n WHERE round(n_users::DOUBLE / nu, 6) >= 0.05
        |ORDER BY n_users DESC, type_a, type_b""".stripMargin,
    // same lowercase whitespace tokens; one select per window offset,
    // exact integer counts, total (cnt desc, a, b) order under the limit
    "x157_skipgram_counts" ->
      """WITH t AS (
        |  SELECT list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |    x -> x <> '') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT unnest([{'a': toks[i], 'b': toks[i+1]} for i in range(1, len(toks))]) AS p FROM t
        |  UNION ALL
        |  SELECT unnest([{'a': toks[i], 'b': toks[i+2]} for i in range(1, len(toks) - 1)]) AS p FROM t
        |  UNION ALL
        |  SELECT unnest([{'a': toks[i], 'b': toks[i+3]} for i in range(1, len(toks) - 2)]) AS p FROM t)
        |SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY p.a, p.b HAVING count(*) >= 5
        |ORDER BY cnt DESC, a, b LIMIT 200""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  (round(sum(l_quantity), 2) + 0) AS sum_qty,
        |  (round(sum(l_extendedprice), 2) + 0) AS sum_base_price,
        |  (round(sum(l_extendedprice * (1 - l_discount)), 2) + 0) AS sum_disc_price,
        |  (round(avg(l_quantity), 4) + 0) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate,
        |  (round(sum(l_extendedprice * (1 - l_discount)), 2) + 0) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "j1_salted_join" ->
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,
    // row shape is the sampling arithmetic; decoded/luma_ok are literal
    // TRUE the Spark side must earn from actually-decoded AVI frames
    "x15_multimodal_frames" ->
      """SELECT asset_id, frame_idx, TRUE AS decoded, TRUE AS luma_ok FROM (
        |  SELECT doc_id AS asset_id,
        |    unnest(range(CAST(doc_id % 10 AS INT) + 1)) AS frame_idx
        |  FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // every column is exact synthesis arithmetic except rms_ok, whose
    // literal TRUE the Spark side must earn from actually-decoded samples
    "x83_audio_decode" ->
      """SELECT doc_id AS asset_id, 4000 AS sample_rate,
        |  ((doc_id % 10) + 1) * 200 * 4 AS n_samples,
        |  ((doc_id % 10) + 1) * 200 AS duration_ms_decoded,
        |  TRUE AS rms_ok
        |FROM documents ORDER BY asset_id""".stripMargin,
    "s1_csv_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    "s8_orc_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    // the oracle scans the flat table with the same week filter; the Spark
    // side must produce identical numbers from the pruned partitioned copy
    "s9_partitioned_prune" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n,
        |  (round(sum(value), 2) + 0) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the oracle joins the flat tables; the Spark side must produce the
    // same numbers from the bucketed zero-exchange join
    "s10_bucketed_join" ->
      """SELECT o_orderkey % 10 AS okey_mod, count(*) AS n_lines,
        |  (round(sum(l_quantity), 2) + 0) AS sum_qty,
        |  (round(sum(o_totalprice), 2) + 0) AS sum_order_price
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle scans the flat table with the same box predicate; the
    // Spark side must return identical rows from the z-ordered rewrite
    "s11_zorder_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey BETWEEN 100 AND 500
        |  AND o_totalprice BETWEEN 50000 AND 150000
        |ORDER BY o_orderkey""".stripMargin,
    "s4_csv_allstrings" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY n_name""".stripMargin,
    "s3_literal_rows" ->
      """SELECT * FROM (VALUES (CAST(123 AS BIGINT), 'AAA', CAST(101.44 AS DOUBLE)),
        | (123, 'BBB', 345.44), (1234, 'AAA', 458.44)) AS t(ID, CLASS, SALES)
        |ORDER BY ID, CLASS""".stripMargin,
    "p2_projection" ->
      """SELECT c_custkey AS cust_id, c_name AS name, c_acctbal AS acctbal
        |FROM customer ORDER BY cust_id""".stripMargin,
    "p4_duration" ->
      """SELECT l_orderkey, l_linenumber,
        |  date_diff('second', o_orderdate, l_shipdate) AS ship_delay_sec
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p5_csv_format" ->
      """SELECT CAST(r_regionkey AS VARCHAR) || ',' || r_name AS line
        |FROM region ORDER BY line""".stripMargin,
    "p8_ci_filter" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE lower(c_mktsegment) = 'building' ORDER BY c_custkey""".stripMargin,
    "p9_point_lookup" ->
      """WITH k(qname) AS (VALUES ('nation_3'), ('nation_12'), ('nowhere'))
        |SELECT k.qname, coalesce(n_name, 'Not found') AS n_name,
        |  coalesce(n_nationkey, -1) AS n_nationkey,
        |  coalesce(n_regionkey, -1) AS n_regionkey
        |FROM k LEFT JOIN nation ON lower(n_name) = k.qname
        |ORDER BY qname""".stripMargin,
    "p10_arith_map" ->
      """SELECT p_partkey, (round(p_retailprice + 10, 2) + 0) AS adj_price
        |FROM part ORDER BY p_partkey""".stripMargin,
    "j1_broadcast_lookup" ->
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,
    "j2_count_enrich" ->
      """SELECT c_nationkey AS n_nationkey, n_name, count(*) AS count_listings
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_nationkey, n_name ORDER BY n_nationkey""".stripMargin,
    "a2_mean_per_key" ->
      """SELECT c_mktsegment, (round(avg(c_acctbal), 4) + 0) AS avg_acctbal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "a3_collect_per_key" ->
      """SELECT c_nationkey, string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "a4_distinct_per_key" ->
      """SELECT r_name, string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "a5_global_collect" ->
      """SELECT string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
        |  AS priorities FROM orders""".stripMargin,
    "a6_transpose" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_linestatus, (round(sum(l_quantity), 2) + 0) AS sum_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        |  max(CASE WHEN l_linestatus = 'F' THEN sum_qty END) AS F_sum_qty,
        |  max(CASE WHEN l_linestatus = 'O' THEN sum_qty END) AS O_sum_qty
        |FROM base GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a6_transpose_multi" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_linestatus,
        |    (round(sum(l_quantity), 2) + 0) AS sum_qty,
        |    (round(sum(l_extendedprice), 2) + 0) AS sum_price
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        |  max(CASE WHEN l_linestatus = 'F' THEN sum_qty END) AS F_sum_qty,
        |  max(CASE WHEN l_linestatus = 'F' THEN sum_price END) AS F_sum_price,
        |  max(CASE WHEN l_linestatus = 'O' THEN sum_qty END) AS O_sum_qty,
        |  max(CASE WHEN l_linestatus = 'O' THEN sum_price END) AS O_sum_price
        |FROM base GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a6_transpose_multikey" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_linenumber, l_linestatus,
        |    (round(sum(l_quantity), 2) + 0) AS sum_qty
        |  FROM lineitem GROUP BY 1, 2, 3)
        |SELECT l_returnflag, l_linenumber,
        |  max(CASE WHEN l_linestatus = 'F' THEN sum_qty END) AS F_sum_qty,
        |  max(CASE WHEN l_linestatus = 'O' THEN sum_qty END) AS O_sum_qty
        |FROM base GROUP BY l_returnflag, l_linenumber
        |ORDER BY l_returnflag, l_linenumber""".stripMargin,
    "a7_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "u1_union" ->
      """SELECT name, src FROM (
        |  SELECT r_name AS name, 'region' AS src FROM region
        |  UNION ALL
        |  SELECT n_name AS name, 'nation' AS src FROM nation)
        |ORDER BY src, name""".stripMargin,
    "lookup_flask" ->
      """SELECT n_name, CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE lower(n_name) = 'nation_7'
        |UNION ALL
        |SELECT 'Atlantis', 0, 0
        |ORDER BY n_name""".stripMargin,
    "k2_append_roundtrip" ->
      """SELECT * FROM (
        |  SELECT * FROM region UNION ALL SELECT * FROM region)
        |ORDER BY r_regionkey""".stripMargin,
    "k3_overwrite_roundtrip" ->
      "SELECT * FROM supplier ORDER BY s_suppkey",
    // the job rounds the decimal mean half-up; DuckDB's round of a DOUBLE
    // rounds the binary value, which splits exact 3-decimal ties (x.xx5)
    "pipeline_weblog" ->
      """WITH durations AS (
        |  SELECT user_id,
        |    date_diff('second', min(ts), max(ts)) AS duration,
        |    CAST(user_id % 25 AS INTEGER) AS n_nationkey
        |  FROM events GROUP BY user_id)
        |SELECT n_name,
        |  CAST(round(CAST(avg(duration) AS DECIMAL(38,10)), 2) AS DOUBLE) + 0 AS time_duration
        |FROM durations JOIN nation USING (n_nationkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "x1_dedup_exact" ->
      """SELECT sha256(text) AS hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
    "x2_dedup_minhash" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.9 ORDER BY a, b""".stripMargin,
    "x3_dedup_simhash" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, jaccard, TRUE AS simhash_recall_ok
        |FROM p WHERE jaccard >= 0.95 ORDER BY a, b""".stripMargin,
    "x9_knn_lsh" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "x14_knn_ivf" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "x59_knn_ivf_trained" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "x38_approx_stats" ->
      """SELECT count(*) AS n_orders, count(DISTINCT o_custkey) AS n_buyers,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM orders""".stripMargin,
    "x65_jl_project" ->
      """SELECT 16 AS out_dims, count(*) AS n_vecs, TRUE AS mean_sq_ratio_ok
        |FROM embeddings
        |WHERE list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0""".stripMargin,
    "x67_lsh_recall" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE ((doc_id & 2147483647) * 2654435761) % 1000000 < 150000),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM d),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT (SELECT count(*) FROM d) AS n_docs,
        |  count(*) AS n_true_pairs, TRUE AS has_truth, TRUE AS recall_ok
        |FROM p WHERE jaccard >= 0.9""".stripMargin,
    "x4_text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
        |    AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_regex_tokens,
        |  length(text) AS n_chars_q
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x5_text_quality" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tok,
        |    length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
        |    length(text) AS n_chars,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stop_hits
        |  FROM documents)
        |SELECT doc_id, (round(
        |    (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN n_tok > 0 AND (n_nonspace::DOUBLE / n_tok) BETWEEN 2.0 AND 12.0
        |      THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END) < 0.2
        |      THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN stop_hits > 0 THEN 0.25 ELSE 0.0 END), 2) + 0) AS quality
        |FROM b ORDER BY doc_id""".stripMargin,
    "x7_text_fingerprint" ->
      """SELECT count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_fp,
        |  count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_norm
        |FROM documents""".stripMargin,
    "x13_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) AS jaccard
        |FROM s a, s b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
        |ORDER BY a, b""".stripMargin,
    "x8_knn_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT qid, nid, list_cosine_similarity(qv, cv) AS sim
        |  FROM q, c WHERE nid <> qid),
        |ranked AS (
        |  SELECT qid, nid, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        |  FROM scored)
        |SELECT qid, nid, (round(sim, 4) + 0) AS sim, CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "x10_cosine_neardup" ->
      """SELECT vec_id AS a, vec_id + 100000 AS b, CAST(1.0 AS DOUBLE) AS sim
        |FROM embeddings WHERE vec_id < 20 ORDER BY a""".stripMargin,
    "x11_multimodal_features" ->
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  CAST(64 AS INTEGER) AS n_features
        |FROM documents ORDER BY asset_id""".stripMargin,
    "x12_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  (round(sum(value), 2) + 0) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p11_square_map" ->
      """SELECT CAST(range AS BIGINT) AS id, CAST(range * range AS BIGINT) AS squared
        |FROM range(1000) ORDER BY id""".stripMargin,
    "x6_text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','los','y','es','un','una','en','por','para'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','dans','pour','que'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('的','是','了','在','和','有','我','不','人','这'))) AS s_zh
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_guess
        |FROM s ORDER BY doc_id""".stripMargin,
    "x16_vocab_topk" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "x17_doclen_hist" ->
      """SELECT CAST(floor(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> x <> '')) / 10) * 10 AS BIGINT) AS bucket,
        |  count(*) AS n_docs
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,
    "x18_sessionize" ->
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id,
        |  min(ts) AS session_start,
        |  max(ts) + INTERVAL 1800 SECOND AS session_end,
        |  count(*) AS n_events,
        |  (round(sum(value), 2) + 0) AS total_value,
        |  (epoch(date_trunc('second', max(ts)) + INTERVAL 1800 SECOND)
        |    - epoch(date_trunc('second', min(ts))) - 1800)::DOUBLE AS duration_sec
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "x19_rank_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |FROM orders
        |QUALIFY rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "x20_stats_summary" ->
      """SELECT (round(quantile_cont(o_totalprice, 0.5), 2) + 0) AS p50,
        |  (round(quantile_cont(o_totalprice, 0.95), 2) + 0) AS p95,
        |  (round(quantile_cont(o_totalprice, 0.99), 2) + 0) AS p99,
        |  count(DISTINCT o_custkey) AS n_buyers,
        |  count(*) AS n_orders
        |FROM orders""".stripMargin,
    "x21_profile" ->
      """SELECT * FROM (
        |  SELECT 'c_acctbal' AS "column", count(*) AS n_rows,
        |    count(*) - count(c_acctbal) AS n_nulls,
        |    count(DISTINCT c_acctbal) AS n_distinct,
        |    min(c_acctbal)::VARCHAR AS min_value, max(c_acctbal)::VARCHAR AS max_value
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_custkey', count(*), count(*) - count(c_custkey),
        |    count(DISTINCT c_custkey), min(c_custkey)::VARCHAR, max(c_custkey)::VARCHAR
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
        |    count(DISTINCT c_mktsegment), min(c_mktsegment), max(c_mktsegment)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_name', count(*), count(*) - count(c_name),
        |    count(DISTINCT c_name), min(c_name), max(c_name)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
        |    count(DISTINCT c_nationkey), min(c_nationkey)::VARCHAR, max(c_nationkey)::VARCHAR
        |  FROM customer)
        |ORDER BY "column"""".stripMargin,
    "x22_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts, p.ts AS asof_pts,
        |  (round(p.value, 4) + 0) AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "x23_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('small', 0.0, 50000.0),
        |  ('medium', 50000.0, 150000.0),
        |  ('large', 150000.0, 1000000000.0))
        |SELECT band, count(*) AS n_orders, (round(sum(o_totalprice), 2) + 0) AS revenue
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "x24_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  (round(sum(c_acctbal), 2) + 0) AS total_bal, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "x25_semi_anti" ->
      """WITH flagged AS (
        |  SELECT c_nationkey,
        |    CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |         THEN 'buyer' ELSE 'non_buyer' END AS status
        |  FROM customer)
        |SELECT n_name, status, count(*) AS n_customers
        |FROM flagged JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, status
        |ORDER BY n_name, status""".stripMargin,
    "x26_setops" ->
      """SELECT 'both' AS tag, nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'customer_only', nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'supplier_only', nationkey FROM (
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        |  EXCEPT SELECT DISTINCT c_nationkey FROM customer)
        |ORDER BY tag, nationkey""".stripMargin,
    "x27_moving_avg" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate)::DATE AS d,
        |    (round(sum(o_totalprice), 2) + 0) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT d, revenue,
        |  (round(avg(revenue) OVER (ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) + 0) AS ma7,
        |  (round(revenue - lag(revenue, 1) OVER (ORDER BY d), 2) + 0) AS delta
        |FROM daily ORDER BY d""".stripMargin,
    "q4_sql" ->
      """SELECT n_name, (round(sum(o_totalprice), 2) + 0) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "x28_unpivot" ->
      """SELECT l_returnflag, l_linestatus, (round(sum(l_quantity), 2) + 0) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x29_cube" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(c_nationkey, -1) AS nationkey,
        |  count(*) AS n_cust, (round(sum(c_acctbal), 2) + 0) AS total_bal
        |FROM customer
        |GROUP BY CUBE (c_mktsegment, c_nationkey)
        |ORDER BY segment, nationkey""".stripMargin,
    "x30_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.token AS token, tf,
        |    tf * (round(ln(n.n::DOUBLE / df), 8) + 0) AS tfidf
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
        |  WHERE doc_id < 50)
        |SELECT doc_id, token, tf, (round(tfidf, 4) + 0) AS tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token) AS rn
        |  FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "x68_tfidf_cosine" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 30),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM d),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM d),
        |w AS (
        |  SELECT doc_id, tf.token AS token,
        |    tf * (round(ln(n.n::DOUBLE / df), 8) + 0) AS w
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
        |  WHERE df <= 1000),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |pr AS (
        |  SELECT wa.doc_id AS a, wb.doc_id AS b, sum(wa.w * wb.w) AS dot
        |  FROM w wa JOIN w wb ON wa.token = wb.token AND wa.doc_id < wb.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, (round(dot / (na.nrm * nb.nrm), 4) + 0) AS cosine
        |FROM pr JOIN nrm na ON pr.a = na.doc_id JOIN nrm nb ON pr.b = nb.doc_id
        |WHERE (round(dot / (na.nrm * nb.nrm), 4) + 0) >= 0.5
        |ORDER BY a, b""".stripMargin,
    "x31_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE (o_orderkey & 2147483647) * 2654435761 % 1000000 < 10000
        |ORDER BY o_orderkey""".stripMargin,
    "x32_corr_stats" ->
      """SELECT (round(corr(l_quantity, l_extendedprice), 4) + 0) AS corr_qty_price,
        |  (round(covar_samp(l_quantity, l_discount), 4) + 0) AS covar_qty_disc,
        |  (round(stddev_samp(l_extendedprice), 2) + 0) AS sd_price,
        |  (round(var_samp(l_quantity), 4) + 0) AS var_qty
        |FROM lineitem""".stripMargin,
    "x33_group_quantiles" ->
      """SELECT o_orderpriority,
        |  (round(quantile_cont(o_totalprice, 0.25), 2) + 0) AS p25,
        |  (round(quantile_cont(o_totalprice, 0.5), 2) + 0) AS p50,
        |  (round(quantile_cont(o_totalprice, 0.75), 2) + 0) AS p75,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x34_bigrams" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 2 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1]
        |      for i in range(1, len(toks))])
        |    END AS sh
        |  FROM t)
        |SELECT bigram, count(*) AS n_docs
        |FROM (SELECT unnest(sh) AS bigram FROM s)
        |GROUP BY bigram ORDER BY n_docs DESC, bigram LIMIT 20""".stripMargin,
    "s5_json_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    "x39_json_extract" ->
      """SELECT event_type, (round(avg(k), 4) + 0) AS avg_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, 'k') AS INTEGER) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s6_schema_evolution" ->
      """SELECT 'day1' AS batch, n_nationkey, n_name,
        |  CAST(NULL AS INTEGER) AS n_regionkey FROM nation
        |UNION ALL
        |SELECT 'day2', n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY batch, n_nationkey""".stripMargin,
    "k4_upsert" ->
      """SELECT s_suppkey, s_name,
        |  (round(CASE WHEN s_suppkey < 10 THEN s_acctbal + 1000 ELSE s_acctbal END, 2) + 0)
        |    AS s_acctbal
        |FROM supplier
        |UNION ALL
        |SELECT 900001, 'NEW SUPP 1', 1.23
        |UNION ALL
        |SELECT 900002, 'NEW SUPP 2', 4.56
        |ORDER BY s_suppkey""".stripMargin,
    "k4_enforced_transpose" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_linenumber, l_linestatus,
        |    (round(sum(l_quantity), 2) + 0) AS sum_qty
        |  FROM lineitem GROUP BY 1, 2, 3)
        |SELECT l_returnflag, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  max(CASE WHEN l_linestatus = 'F' THEN sum_qty END) AS F_sum_qty,
        |  max(CASE WHEN l_linestatus = 'O' THEN sum_qty END) AS O_sum_qty
        |FROM base GROUP BY l_returnflag, l_linenumber
        |ORDER BY l_returnflag, l_linenumber""".stripMargin,
    "k5_fanout" ->
      """SELECT 'names' AS sink, CAST(n_nationkey AS BIGINT) AS k, n_name AS v
        |FROM nation
        |UNION ALL
        |SELECT 'counts', CAST(n_regionkey AS BIGINT),
        |  CAST(count(*) AS VARCHAR)
        |FROM nation GROUP BY n_regionkey
        |ORDER BY sink, k""".stripMargin,
    "k6_schema_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "lookup_fastapi" ->
      """SELECT n_name, CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE lower(n_name) = 'nation_7'
        |UNION ALL
        |SELECT 'Not found', 0, 0
        |ORDER BY n_name""".stripMargin,
    "x36_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x37_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |x AS (
        |  SELECT doc_id,
        |    unnest(range(CASE WHEN n > 10 THEN (n-11)//40 + 1
        |                      WHEN n > 0 THEN 1 ELSE 0 END)) AS chunk_idx,
        |    unnest([toks[(i*40+1):(i*40+50)]
        |            for i in range(0, CASE WHEN n > 10 THEN (n-11)//40 + 1
        |                                  WHEN n > 0 THEN 1 ELSE 0 END)]) AS ctoks
        |  FROM c)
        |SELECT doc_id, chunk_idx, len(ctoks) AS n_chunk_tokens,
        |  array_to_string(ctoks, ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "x35_full_outer" ->
      """WITH cn AS (
        |  SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |  FROM customer GROUP BY 1),
        |sn AS (
        |  SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |  FROM supplier GROUP BY 1)
        |SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM cn FULL JOIN sn ON cn.nationkey = sn.nationkey
        |ORDER BY nationkey""".stripMargin,
    "x40_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  (round(sum(o_totalprice), 2) + 0) AS revenue, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin,
    "x41_dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION SELECT b, a FROM p),
        |reach(x, y) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.x, e.dst FROM reach r JOIN edges e ON e.src = r.y)
        |SELECT x AS doc_id, min(y) AS cluster_id
        |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin,
    "x61_dedup_keep_best" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION SELECT b, a FROM p),
        |reach(x, y) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.x, e.dst FROM reach r JOIN edges e ON e.src = r.y),
        |lbl AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x)
        |SELECT d.doc_id, d.n_chars
        |FROM documents d JOIN lbl USING (doc_id)
        |QUALIFY row_number() OVER (PARTITION BY cluster_id
        |  ORDER BY d.n_chars DESC, d.doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "x82_cluster_keep_best" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION SELECT b, a FROM p),
        |reach(x, y) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.x, e.dst FROM reach r JOIN edges e ON e.src = r.y),
        |lbl AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x)
        |SELECT d.doc_id, lbl.cluster_id, d.n_chars
        |FROM documents d JOIN lbl USING (doc_id)
        |QUALIFY row_number() OVER (PARTITION BY lbl.cluster_id
        |  ORDER BY d.n_chars DESC, d.doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "x42_contamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
        |      for i in range(1, len(toks) - 6)])
        |    END AS sh
        |  FROM t),
        |b AS (SELECT DISTINCT unnest(sh) AS sg FROM s WHERE doc_id % 10 = 0),
        |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |h AS (SELECT doc_id, count(*) AS hits FROM e JOIN b USING (sg) GROUP BY doc_id)
        |SELECT s.doc_id, len(s.sh) AS n_shingles,
        |  coalesce(hits, 0) AS contaminated,
        |  (round(CASE WHEN len(s.sh) = 0 THEN 0.0
        |    ELSE coalesce(hits, 0)::DOUBLE / len(s.sh) END, 4) + 0) AS contaminated_frac
        |FROM s LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    "x43_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, emb,
        |    CASE WHEN list_max(list_transform(emb, x -> abs(x))) = 0 THEN 1.0
        |      ELSE list_max(list_transform(emb, x -> abs(x))) / 127.0
        |    END AS scale
        |  FROM v)
        |SELECT vec_id, (round(scale, 6) + 0) AS scale,
        |  (round(list_max(list_transform(emb,
        |    x -> abs((round(x / scale) + 0) * scale - x))), 6) + 0) AS max_err
        |FROM m ORDER BY vec_id""".stripMargin,
    "x44_attribution" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS cus
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS pus,
        |    value
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.user_id, purchase_id, click_id, value,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY cus DESC, click_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND pus >= cus AND pus <= cus + 3600000000::BIGINT)
        |SELECT user_id, purchase_id, click_id, (round(value, 2) + 0) AS value
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    "x45_curation" ->
      """WITH lt AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ltoks
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, text,
        |    len(list_filter(ltoks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS s_de,
        |    len(list_filter(ltoks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
        |    len(list_filter(ltoks, x -> x IN ('el','la','los','y','es','un','una','en','por','para'))) AS s_es,
        |    len(list_filter(ltoks, x -> x IN ('le','la','les','et','est','un','une','dans','pour','que'))) AS s_fr,
        |    len(list_filter(ltoks, x -> x IN ('的','是','了','在','和','有','我','不','人','这'))) AS s_zh,
        |    ltoks
        |  FROM lt),
        |lang AS (
        |  SELECT doc_id, text FROM ls
        |  WHERE greatest(s_de, s_en, s_es, s_fr, s_zh) > 0
        |    AND s_de <> greatest(s_de, s_en, s_es, s_fr, s_zh)
        |    AND s_en = greatest(s_de, s_en, s_es, s_fr, s_zh)),
        |qb AS (
        |  SELECT doc_id, text,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tok,
        |    length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
        |    length(text) AS n_chars,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stop_hits
        |  FROM lang),
        |q AS (
        |  SELECT doc_id, text FROM qb
        |  WHERE (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN n_tok > 0 AND (n_nonspace::DOUBLE / n_tok) BETWEEN 2.0 AND 12.0
        |      THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END) < 0.2
        |      THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN stop_hits > 0 THEN 0.25 ELSE 0.0 END) >= 0.5),
        |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
        |d AS (SELECT q.doc_id, q.text FROM q JOIN keep USING (doc_id)),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM d),
        |c AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |x AS (
        |  SELECT doc_id,
        |    unnest(range(CASE WHEN n > 10 THEN (n-11)//40 + 1
        |                      WHEN n > 0 THEN 1 ELSE 0 END)) AS chunk_idx,
        |    unnest([toks[(i*40+1):(i*40+50)]
        |            for i in range(0, CASE WHEN n > 10 THEN (n-11)//40 + 1
        |                                  WHEN n > 0 THEN 1 ELSE 0 END)]) AS ctoks
        |  FROM c)
        |SELECT doc_id, chunk_idx, len(ctoks) AS n_chunk_tokens,
        |  array_to_string(ctoks, ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "x46_range_window" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  (round(sum(value) OVER w, 2) + 0) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "x47_rank_family" ->
      """SELECT o_orderpriority, o_orderkey,
        |  ntile(4) OVER w AS quartile,
        |  (round(percent_rank() OVER w, 6) + 0) AS pct_rank,
        |  (round(cume_dist() OVER w, 6) + 0) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "x48_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts)::DATE AS day,
        |    count(*) AS n, (round(sum(value), 2) + 0) AS day_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM spans)
        |SELECT g.user_id, g.day, coalesce(n, 0) AS n,
        |  (round(coalesce(last_value(day_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS UNBOUNDED PRECEDING), 0.0), 2) + 0) AS carried_value
        |FROM grid g LEFT JOIN daily d
        |  ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, g.day""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT (round(sum(l_extendedprice * l_discount), 2) + 0) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q5_corr_subquery" ->
      """SELECT o_custkey, count(*) AS n_above
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "x55_quality_audit" ->
      """WITH v AS (
        |  SELECT 'positive_price' AS rule,
        |    count(*) FILTER (NOT coalesce(o_totalprice > 0, FALSE)) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'custkey_not_null',
        |    count(*) FILTER (o_custkey IS NULL)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'priority_known',
        |    count(*) FILTER (NOT coalesce(o_orderpriority IN
        |      ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'),
        |      FALSE))
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique_orderkey', count(*) - count(DISTINCT o_orderkey)
        |  FROM orders)
        |SELECT rule, CAST(violations AS BIGINT) AS violations,
        |  (violations = 0) AS pass
        |FROM v ORDER BY rule""".stripMargin,
    "x54_scd2" ->
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |f AS (
        |  SELECT user_id, event_type, ts AS eff_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS eff_to
        |  FROM r)
        |SELECT user_id, event_type, eff_from, eff_to,
        |  (eff_to IS NULL) AS is_current
        |FROM f ORDER BY user_id, eff_from, event_type""".stripMargin,
    // the incremental merge must equal the full rebuild — same SQL as x54
    "x75_scd2_incremental" ->
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |f AS (
        |  SELECT user_id, event_type, ts AS eff_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS eff_to
        |  FROM r)
        |SELECT user_id, event_type, eff_from, eff_to,
        |  (eff_to IS NULL) AS is_current
        |FROM f ORDER BY user_id, eff_from, event_type""".stripMargin,
    "x73_weighted_sample" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    (round(pow(
        |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
        |        / 4294967296.0,
        |      1.0 / n_chars), 9) + 0) AS pr
        |  FROM documents)
        |SELECT doc_id, source FROM p
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY pr DESC, doc_id) <= 10
        |ORDER BY source, doc_id""".stripMargin,
    "x74_token_budget_mix" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
        |      AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS mk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY mk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cumb
        |  FROM d)
        |SELECT doc_id, source, n_tok FROM c
        |WHERE cumb < CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 500
        |  WHEN 'src2' THEN 300 WHEN 'src3' THEN 0 ELSE -1 END
        |ORDER BY doc_id""".stripMargin,
    "x76_pq_quantize" ->
      """SELECT count(*) AS n_vecs, 8 AS m, 16 AS k, TRUE AS mse_ratio_ok
        |FROM embeddings""".stripMargin,
    "x77_knn_pq_adc" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "x78_knn_ivf_pq" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // x86's span arithmetic replayed, then tokens outside every span are
    // re-joined in position order; left join keeps untouched docs verbatim
    "x89_strip_repeated" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(range(len(t) - 7)) AS p, t
        |  FROM d WHERE len(t) >= 8),
        |sh AS (
        |  SELECT doc_id, p, array_to_string(t[p+1:p+8], ' ') AS s FROM sh0),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
        |m AS (SELECT doc_id, p FROM sh WHERE s IN (SELECT s FROM dup)),
        |r AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
        |  FROM m),
        |runs AS (
        |  SELECT doc_id, min(p) AS s, max(p) + 7 AS e FROM r GROUP BY doc_id, g),
        |pos AS (SELECT doc_id, unnest(range(len(t))) AS i, t FROM d),
        |keep AS (
        |  SELECT p.doc_id, p.i, p.t[p.i+1] AS tok
        |  FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM runs r2
        |    WHERE r2.doc_id = p.doc_id AND p.i BETWEEN r2.s AND r2.e)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY i) AS text_clean
        |  FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, len(d.t) AS n_tokens,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  coalesce(a.text_clean, '') AS text_clean
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // x89's replay with keep-first marking: only non-first occurrences
    // (by (doc_id, p) order per shingle) mark dup runs
    "x119_crossdoc_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(range(len(t) - 7)) AS p, t
        |  FROM d WHERE len(t) >= 8),
        |sh AS (
        |  SELECT doc_id, p, array_to_string(t[p+1:p+8], ' ') AS s FROM sh0),
        |m AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p,
        |      row_number() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn,
        |      count(*) OVER (PARTITION BY s) AS c
        |    FROM sh)
        |  WHERE c >= 2 AND rn > 1),
        |r AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
        |  FROM m),
        |runs AS (
        |  SELECT doc_id, min(p) AS s, max(p) + 7 AS e FROM r GROUP BY doc_id, g),
        |pos AS (SELECT doc_id, unnest(range(len(t))) AS i, t FROM d),
        |keep AS (
        |  SELECT p.doc_id, p.i, p.t[p.i+1] AS tok
        |  FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM runs r2
        |    WHERE r2.doc_id = p.doc_id AND p.i BETWEEN r2.s AND r2.e)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY i) AS text_clean
        |  FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, len(d.t) AS n_tokens,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  coalesce(a.text_clean, '') AS text_clean
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // n_pairs is the exact planted count (consecutive even/odd doc pairs);
    // the booleans are earned from real PNG decode + dHash + banding + CC
    "x88_image_phash_neardup" ->
      """SELECT (SELECT count(*) FROM documents) AS n_assets,
        |  (SELECT count(*) FROM documents d1 JOIN documents d2
        |     ON d2.doc_id = d1.doc_id + 1 AND d1.doc_id % 2 = 0) AS n_pairs,
        |  TRUE AS pairs_planted_ok, TRUE AS clusters_ok""".stripMargin,
    // survivors of the incremental pass = exactly the planted non-dup
    // batch ids: cross-batch exact copies (+100000) die against the stored
    // index, negated uniques (+200000) and their within-batch twins
    // (+300000) survive — earned from real sign-LSH bucketing + exact
    // cosine verify against the precomputed corpus index
    "x94_incremental_semantic_dedup" ->
      """SELECT vec_id + 200000 AS vec_id FROM embeddings
        |  WHERE vec_id >= 50 AND vec_id < 100
        |UNION ALL
        |SELECT vec_id + 300000 FROM embeddings
        |  WHERE vec_id >= 50 AND vec_id < 60
        |ORDER BY vec_id""".stripMargin,
    // shape contract like x78/x87: k results per query; recall_ok is the
    // earned flag from the stored-index serve vs brute force
    "x95_stored_ann_index" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // append-then-serve: shape + literal-TRUE bound flags (recall vs full
    // corpus ≥ floor; index id set == corpus id set after the append)
    "x96_stored_index_append" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results, TRUE AS recall_ok,
        |       TRUE AS appended_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // exact balance is SQL arithmetic: n docs dealt round-robin over 16
    // shards -> shard s holds n//16 + (s < n%16) rows
    "x97_balanced_shards" ->
      """SELECT CAST(t.shard AS INTEGER) AS shard,
        |       (SELECT count(*) FROM documents) // 16
        |         + CASE WHEN t.shard < (SELECT count(*) FROM documents) % 16
        |                THEN 1 ELSE 0 END AS n_docs
        |FROM generate_series(0, 15) AS t(shard)
        |ORDER BY shard""".stripMargin,
    // survivors of semantic dedup = exactly the original id list: planted
    // exact copies (ids +100000) must each cluster with their source and
    // lose the min-id keep — earned from real LSH + cosine + CC
    "x92_semantic_dedup" ->
      "SELECT vec_id FROM embeddings ORDER BY vec_id",
    // x41's exact-Jaccard text edges UNIONed with the planted image-pair
    // arithmetic, closed transitively — min reachable id per doc
    "x91_multimodal_dedup" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9
        |  UNION
        |  SELECT d1.doc_id, d2.doc_id FROM documents d1 JOIN documents d2
        |    ON d2.doc_id = d1.doc_id + 1 AND d1.doc_id % 2 = 0),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION SELECT b, a FROM p),
        |reach(x, y) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.x, e.dst FROM reach r JOIN edges e ON e.src = r.y)
        |SELECT x AS doc_id, min(y) AS cluster_id
        |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin,
    // same planted arithmetic as x88; the booleans are earned from real
    // AVI frame decode + temporal luma fingerprint + banding + CC
    "x93_video_phash_neardup" ->
      """SELECT (SELECT count(*) FROM documents) AS n_assets,
        |  (SELECT count(*) FROM documents d1 JOIN documents d2
        |     ON d2.doc_id = d1.doc_id + 1 AND d1.doc_id % 2 = 0) AS n_pairs,
        |  TRUE AS pairs_planted_ok, TRUE AS clusters_ok""".stripMargin,
    // same planted arithmetic as x88; the booleans are earned from real
    // WAV decode + envelope fingerprint + banding + CC
    "x90_audio_fp_neardup" ->
      """SELECT (SELECT count(*) FROM documents) AS n_assets,
        |  (SELECT count(*) FROM documents d1 JOIN documents d2
        |     ON d2.doc_id = d1.doc_id + 1 AND d1.doc_id % 2 = 0) AS n_pairs,
        |  TRUE AS pairs_planted_ok, TRUE AS clusters_ok""".stripMargin,
    // recall_ok is earned against FILTERED brute force; filter_ok against
    // the label predicate on every returned neighbor
    "x87_filtered_ann" ->
      """SELECT count(*) AS n_queries, 5 * count(*) AS n_results,
        |  TRUE AS recall_ok, TRUE AS filter_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // same recursive-CTE clustering as x41, reduced to the split audit
    "x81_leakage_safe_split" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION SELECT b, a FROM p),
        |reach(x, y) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.x, e.dst FROM reach r JOIN edges e ON e.src = r.y),
        |labels AS (
        |  SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x)
        |SELECT count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters,
        |  TRUE AS purity_ok, TRUE AS train_frac_ok
        |FROM labels""".stripMargin,
    "x79_robust_scale" ->
      """WITH m AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med FROM lineitem),
        |d AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, m.med,
        |    abs(l_extendedprice - m.med) AS adev
        |  FROM lineitem, m),
        |md AS (SELECT quantile_cont(adev, 0.5) AS mad FROM d)
        |SELECT l_orderkey, l_linenumber,
        |  (round(CASE WHEN l_extendedprice IS NOT NULL AND md.mad > 0
        |    THEN (l_extendedprice - d.med) / (1.4826 * md.mad) END, 4) + 0) AS robust_z
        |FROM d, md ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "x80_trend_per_type" ->
      """SELECT event_type,
        |  (round(regr_slope(value, date_diff('day', DATE '2024-01-01', ts)), 4) + 0) AS slope,
        |  (round(regr_intercept(value, date_diff('day', DATE '2024-01-01', ts)), 4) + 0)
        |    AS intercept,
        |  regr_count(value, date_diff('day', DATE '2024-01-01', ts)) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x53_source_cap" ->
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10
        |ORDER BY doc_id""".stripMargin,
    "x69_sample_per_group" ->
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 5
        |ORDER BY doc_id""".stripMargin,
    "x66_value_anomalies" ->
      """WITH s AS (
        |  SELECT event_type, extract(hour FROM ts) AS h,
        |    avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id,
        |  (round(CASE WHEN s.sd > 0 THEN (e.value - s.mu) / s.sd END, 4) + 0)
        |    AS zscore,
        |  abs(CASE WHEN s.sd > 0 THEN (e.value - s.mu) / s.sd END) > 3
        |    AS is_anomaly
        |FROM events e LEFT JOIN s ON e.event_type = s.event_type
        |  AND extract(hour FROM e.ts) = s.h
        |ORDER BY e.event_id""".stripMargin,
    "x64_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |ok AS (SELECT doc_id FROM dt GROUP BY 1 HAVING count(*) <= 1000),
        |d2 AS (SELECT dt.* FROM dt JOIN ok USING (doc_id)),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM d2),
        |f AS (SELECT tok, count(*) AS df FROM d2 GROUP BY 1),
        |pr AS (
        |  SELECT a.tok AS ta, b.tok AS tb, count(*) AS c
        |  FROM d2 a JOIN d2 b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT ta, tb, c,
        |  (round(ln(c::DOUBLE * n.nd / (fa.df * fb.df)), 6) + 0) AS pmi
        |FROM pr
        |JOIN f fa ON pr.ta = fa.tok
        |JOIN f fb ON pr.tb = fb.tok
        |CROSS JOIN n
        |ORDER BY c DESC, ta, tb LIMIT 40""".stripMargin,
    "x70_histogram" ->
      """WITH m AS (
        |  SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
        |    CAST(max(o_totalprice) AS DOUBLE) AS mx
        |  FROM orders),
        |b AS (
        |  SELECT CAST(CASE WHEN m.mx = m.mn THEN 0
        |    ELSE least(floor((o_totalprice - m.mn) / ((m.mx - m.mn) / 20)), 19)
        |    END AS INT) AS bucket
        |  FROM orders, m)
        |SELECT bucket,
        |  (round(m.mn + bucket * ((m.mx - m.mn) / 20), 4) + 0) AS lo,
        |  (round(m.mn + (bucket + 1) * ((m.mx - m.mn) / 20), 4) + 0) AS hi,
        |  count(*) AS n
        |FROM b, m GROUP BY 1, m.mn, m.mx ORDER BY bucket""".stripMargin,
    "x62_winsorize" ->
      """WITH b AS (
        |  SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  (round(CASE WHEN l_extendedprice IS NOT NULL
        |    THEN least(greatest(l_extendedprice, b.lo), b.hi) END, 2) + 0) AS clipped
        |FROM lineitem, b
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "x63_key_skew" ->
      """WITH c AS (
        |  SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS nkeys FROM c)
        |SELECT c.key, c.n,
        |  (round(c.n / s.total, 6) + 0) AS share,
        |  (round(c.n * s.nkeys / s.total, 4) + 0) AS skew
        |FROM c, s ORDER BY c.n DESC, c.key LIMIT 10""".stripMargin,
    "x60_unigram_lp" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        |vn AS (SELECT count(*) AS v FROM voc),
        |sc AS (
        |  SELECT tk.doc_id,
        |    avg(log10((coalesce(voc.c, 0) + 1) / (tot.n + vn.v + 1.0))) AS lp
        |  FROM tk LEFT JOIN voc USING (tok), tot, vn
        |  GROUP BY 1)
        |SELECT d.doc_id, (round(sc.lp, 6) + 0) AS unigram_lp
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // x60's replay VERBATIM: the LM loaded off the count-merged store
    // must equal in-query fitting over the whole corpus
    "x169_lm_count_merge" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        |vn AS (SELECT count(*) AS v FROM voc),
        |sc AS (
        |  SELECT tk.doc_id,
        |    avg(log10((coalesce(voc.c, 0) + 1) / (tot.n + vn.v + 1.0))) AS lp
        |  FROM tk LEFT JOIN voc USING (tok), tot, vn
        |  GROUP BY 1)
        |SELECT d.doc_id, (round(sc.lp, 6) + 0) AS unigram_lp
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "x84_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |scnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |stot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM scnt),
        |svoc AS (SELECT tok, c FROM scnt ORDER BY c DESC, tok LIMIT 20),
        |svn AS (SELECT count(*) AS v FROM svoc),
        |ttk AS (SELECT tok FROM tk WHERE doc_id % 10 = 0),
        |tcnt AS (SELECT tok, count(*) AS c FROM ttk GROUP BY 1),
        |ttot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tcnt),
        |tvoc AS (SELECT tok, c FROM tcnt ORDER BY c DESC, tok LIMIT 20),
        |tvn AS (SELECT count(*) AS v FROM tvoc),
        |sc AS (
        |  SELECT tk.doc_id,
        |    avg(log10((coalesce(tvoc.c, 0) + 1) / (ttot.n + tvn.v + 1.0))
        |      - log10((coalesce(svoc.c, 0) + 1) / (stot.n + svn.v + 1.0))) AS w
        |  FROM tk LEFT JOIN tvoc USING (tok) LEFT JOIN svoc USING (tok),
        |    stot, svn, ttot, tvn
        |  GROUP BY 1)
        |SELECT d.doc_id, (round(sc.w, 6) + 0) AS dsir_w
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "x85_dsir_resample" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |scnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |stot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM scnt),
        |svoc AS (SELECT tok, c FROM scnt ORDER BY c DESC, tok LIMIT 20),
        |svn AS (SELECT count(*) AS v FROM svoc),
        |ttk AS (SELECT tok FROM tk WHERE doc_id % 10 = 0),
        |tcnt AS (SELECT tok, count(*) AS c FROM ttk GROUP BY 1),
        |ttot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tcnt),
        |tvoc AS (SELECT tok, c FROM tcnt ORDER BY c DESC, tok LIMIT 20),
        |tvn AS (SELECT count(*) AS v FROM tvoc),
        |sc AS (
        |  SELECT tk.doc_id,
        |    avg(log10((coalesce(tvoc.c, 0) + 1) / (ttot.n + tvn.v + 1.0))
        |      - log10((coalesce(svoc.c, 0) + 1) / (stot.n + svn.v + 1.0))) AS w
        |  FROM tk LEFT JOIN tvoc USING (tok) LEFT JOIN svoc USING (tok),
        |    stot, svn, ttot, tvn
        |  GROUP BY 1),
        |wts AS (
        |  SELECT doc_id, (round(exp((round(w, 6) + 0)), 6) + 0) AS w
        |  FROM sc WHERE w IS NOT NULL),
        |p AS (
        |  SELECT d.doc_id, d.source,
        |    (round(pow(
        |      (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
        |        / 4294967296.0,
        |      1.0 / wts.w), 9) + 0) AS pr
        |  FROM documents d JOIN wts USING (doc_id))
        |SELECT doc_id, source FROM p
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY pr DESC, doc_id) <= 5
        |ORDER BY source, doc_id""".stripMargin,
    // same positional-shingle + gaps-and-islands recipe in SQL: list slice
    // rebuilds each 8-gram, HAVING count>=2 marks duplicates, p-row_number
    // groups consecutive positions into runs
    "x86_substring_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(range(len(t) - 7)) AS p, t
        |  FROM d WHERE len(t) >= 8),
        |sh AS (
        |  SELECT doc_id, p, array_to_string(t[p+1:p+8], ' ') AS s FROM sh0),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
        |m AS (SELECT doc_id, p FROM sh WHERE s IN (SELECT s FROM dup)),
        |r AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
        |  FROM m)
        |SELECT doc_id, min(p) AS run_start, max(p) + 7 AS run_end,
        |  count(*) AS n_shingles
        |FROM r GROUP BY doc_id, g
        |ORDER BY doc_id, run_start""".stripMargin,
    "x56_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (
        |  SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |  JOIN s0 ON e.user_id = s0.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
        |SELECT 0 AS stage_idx, 'view' AS stage,
        |  (SELECT count(*) FROM s0) AS users
        |UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
        |ORDER BY stage_idx""".stripMargin,
    "x71_event_paths" ->
      """WITH s AS (
        |  SELECT event_type AS s0,
        |    lead(event_type, 1) OVER w AS s1,
        |    lead(event_type, 2) OVER w AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT s0 || ' > ' || s1 || ' > ' || s2 AS path, count(*) AS n
        |FROM s WHERE s1 IS NOT NULL AND s2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "x72_stickiness" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        |dau AS (SELECT d AS day, count(DISTINCT u) AS dau FROM a GROUP BY 1),
        |e AS (
        |  SELECT u, unnest(generate_series(d, d + INTERVAL 6 DAY,
        |    INTERVAL 1 DAY))::DATE AS day
        |  FROM a),
        |wau AS (SELECT day, count(DISTINCT u) AS wau FROM e GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  (round(dau.dau::DOUBLE / wau.wau, 4) + 0) AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin,
    "x57_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events),
        |f AS (SELECT u, min(w) AS w0 FROM a GROUP BY 1)
        |SELECT f.w0 AS cohort_week,
        |  CAST(floor(date_diff('day', f.w0, a.w) / 7.0) AS INTEGER)
        |    AS week_offset,
        |  count(DISTINCT a.u) AS users
        |FROM a JOIN f ON a.u = f.u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x100_temperature_mix" ->
      """WITH c AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source),
        |t AS (SELECT sum(n) AS total, sum(pow(n, 0.5)) AS psum FROM c),
        |r AS (SELECT c.source,
        |        CAST(floor(least(1.0, 0.5 * t.total * (pow(c.n, 0.5) / t.psum) / c.n)
        |          * 1000000) AS BIGINT) AS thr
        |      FROM c, t)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE (d.doc_id & 2147483647) * 2654435761 % 1000000 < r.thr
        |ORDER BY doc_id""".stripMargin,
    "x58_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE (doc_id & 2147483647) * 2654435761 % 1000000 <
        |  CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
        |    WHEN 'src2' THEN 250000 WHEN 'src3' THEN 100000 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    "x99_diverse_sample" ->
      """SELECT count(*) AS n_vecs, TRUE AS cells_ok, TRUE AS cap_ok
        |FROM embeddings""".stripMargin,
    "x104_hll_distinct" ->
      """SELECT source, count(DISTINCT text) AS n_exact, TRUE AS est_ok
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '__all__' AS source, count(DISTINCT text) AS n_exact,
        |  TRUE AS est_ok
        |FROM documents
        |ORDER BY source""".stripMargin,
    // the same three power-iteration passes, unrolled as CTEs
    "x105_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        |r1 AS (
        |  SELECT nodes.node,
        |    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.m, 0) AS rank
        |  FROM nodes LEFT JOIN (
        |    SELECT e.dst AS node, sum(r0.rank / deg.outdeg) AS m
        |    FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r2 AS (
        |  SELECT nodes.node,
        |    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.m, 0) AS rank
        |  FROM nodes LEFT JOIN (
        |    SELECT e.dst AS node, sum(r1.rank / deg.outdeg) AS m
        |    FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r3 AS (
        |  SELECT nodes.node,
        |    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.m, 0) AS rank
        |  FROM nodes LEFT JOIN (
        |    SELECT e.dst AS node, sum(r2.rank / deg.outdeg) AS m
        |    FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON nodes.node = c.node)
        |SELECT node, (round(rank * 1000, 6) + 0) AS rank_x1000
        |FROM r3 ORDER BY node""".stripMargin,
    // seeded teleport vector, same three passes unrolled
    "x111_trustrank" ->
      """WITH e0 AS (
        |  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |sd AS (
        |  SELECT s_suppkey + 1000000 AS node
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |tv AS (
        |  SELECT nodes.node,
        |    CASE WHEN sd.node IS NOT NULL THEN 1.0 ELSE 0.0 END AS s
        |  FROM nodes LEFT JOIN sd ON nodes.node = sd.node),
        |ns AS (SELECT sum(s) AS k FROM tv),
        |tp AS (SELECT node, s / (SELECT k FROM ns) AS t FROM tv),
        |r0 AS (SELECT node, t AS rank FROM tp),
        |r1 AS (
        |  SELECT tp.node, 0.15 * tp.t + 0.85 * coalesce(c.m, 0) AS rank
        |  FROM tp LEFT JOIN (
        |    SELECT e.dst AS node, sum(r0.rank / deg.outdeg) AS m
        |    FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON tp.node = c.node),
        |r2 AS (
        |  SELECT tp.node, 0.15 * tp.t + 0.85 * coalesce(c.m, 0) AS rank
        |  FROM tp LEFT JOIN (
        |    SELECT e.dst AS node, sum(r1.rank / deg.outdeg) AS m
        |    FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON tp.node = c.node),
        |r3 AS (
        |  SELECT tp.node, 0.15 * tp.t + 0.85 * coalesce(c.m, 0) AS rank
        |  FROM tp LEFT JOIN (
        |    SELECT e.dst AS node, sum(r2.rank / deg.outdeg) AS m
        |    FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON tp.node = c.node)
        |SELECT node, (round(rank * 1000, 6) + 0) AS trust_x1000
        |FROM r3 ORDER BY node""".stripMargin,
    // text equality replayed directly (sentinel-coalesced, mirroring the
    // engine's hash-equality semantics for nulls)
    "x114_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 1),
        |j AS (
        |  SELECT coalesce(v1.text, ' ') AS t1, coalesce(v2.text, ' ') AS t2,
        |    v1.doc_id IS NULL AS no1, v2.doc_id IS NULL AS no2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT
        |  CASE WHEN no1 THEN 'added' WHEN no2 THEN 'removed'
        |       WHEN t1 <> t2 THEN 'changed' ELSE 'unchanged' END AS status,
        |  count(*)::BIGINT AS n
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the naive blocked product the deletion-neighborhood blocking must
    // exactly reproduce — completeness of the blocking IS the check
    "x115_fuzzy_match" ->
      """WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer)
        |SELECT a.c_nationkey, a.c_custkey AS id_a, b.c_custkey AS id_b
        |FROM c a JOIN c b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // full NB refit in SQL: token-label counts, add-one smoothing over
    // the corpus vocabulary, log priors, round-then-argmax (label-asc
    // ties) — the x60/x102 determinism conventions combined
    "x116_nb_classify" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT lang, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY 1),
        |voc AS (SELECT DISTINCT tok FROM tk),
        |vn AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM voc),
        |nd AS (SELECT lang, count(*) AS ndocs FROM documents GROUP BY 1),
        |ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |grid AS (
        |  SELECT voc.tok, tot.lang,
        |    ln((coalesce(cnt.c, 0) + 1) / (tot.t + (SELECT v FROM vn))) AS lp
        |  FROM voc CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.tok = voc.tok AND cnt.lang = tot.lang),
        |sc AS (
        |  SELECT tk.doc_id, grid.lang AS plab,
        |    round(sum(grid.lp)
        |      + ln(max(nd.ndocs) / (SELECT n FROM ntot)), 6) + 0 AS score
        |  FROM tk JOIN grid ON tk.tok = grid.tok
        |  JOIN nd ON nd.lang = grid.lang
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, plab,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, plab) AS rn
        |  FROM sc)
        |SELECT d.lang, p.plab AS predicted, CAST(count(*) AS BIGINT) AS n
        |FROM documents d JOIN pred p ON p.doc_id = d.doc_id AND p.rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // x116's refit replay VERBATIM: classifying off the stored model
    // must equal fitting in-query — counts, smoothing, priors, argmax
    "x168_nb_from_store" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT lang, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY 1),
        |voc AS (SELECT DISTINCT tok FROM tk),
        |vn AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM voc),
        |nd AS (SELECT lang, count(*) AS ndocs FROM documents GROUP BY 1),
        |ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |grid AS (
        |  SELECT voc.tok, tot.lang,
        |    ln((coalesce(cnt.c, 0) + 1) / (tot.t + (SELECT v FROM vn))) AS lp
        |  FROM voc CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.tok = voc.tok AND cnt.lang = tot.lang),
        |sc AS (
        |  SELECT tk.doc_id, grid.lang AS plab,
        |    round(sum(grid.lp)
        |      + ln(max(nd.ndocs) / (SELECT n FROM ntot)), 6) + 0 AS score
        |  FROM tk JOIN grid ON tk.tok = grid.tok
        |  JOIN nd ON nd.lang = grid.lang
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, plab,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, plab) AS rn
        |  FROM sc)
        |SELECT d.lang, p.plab AS predicted, CAST(count(*) AS BIGINT) AS n
        |FROM documents d JOIN pred p ON p.doc_id = d.doc_id AND p.rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // latest-op-per-key compaction with tombstone drop, replayed with the
    // same (ts, event_id) total order
    "x117_cdc_apply" ->
      """WITH lg AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    event_type, value
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM lg)
        |SELECT user_id, event_type, (round(value, 4) + 0) AS value
        |FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin,
    // identical binning (fixed [0,600) in 10 bins, edge-clamped),
    // add-half smoothing, and PSI sum
    "x118_drift_psi" ->
      """WITH v1 AS (
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 5 <> 1),
        |b1 AS (
        |  SELECT lang, CAST(least(greatest(
        |      floor((n_chars - 0.0) / 60.0), 0.0), 9.0) AS BIGINT) AS bin,
        |    count(*) AS co
        |  FROM v1 GROUP BY 1, 2),
        |b2 AS (
        |  SELECT lang, CAST(least(greatest(
        |      floor((n_chars - 0.0) / 60.0), 0.0), 9.0) AS BIGINT) AS bin,
        |    count(*) AS cn
        |  FROM v2 GROUP BY 1, 2),
        |al AS (
        |  SELECT coalesce(b1.lang, b2.lang) AS lang,
        |    coalesce(b1.bin, b2.bin) AS bin,
        |    coalesce(co, 0) AS co, coalesce(cn, 0) AS cn
        |  FROM b1 FULL OUTER JOIN b2
        |    ON b1.lang = b2.lang AND b1.bin = b2.bin),
        |p AS (
        |  SELECT lang, co, cn,
        |    (co + 0.5) / (sum(co) OVER (PARTITION BY lang) + 5.0) AS po,
        |    (cn + 0.5) / (sum(cn) OVER (PARTITION BY lang) + 5.0) AS pn
        |  FROM al)
        |SELECT lang, (round(sum((pn - po) * ln(pn / po)), 6) + 0) AS psi,
        |  CAST(sum(co) AS BIGINT) AS n_old, CAST(sum(cn) AS BIGINT) AS n_new
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // x41's recursive-CTE clusters + the same keep-best pick and
    // provenance aggregation
    "x128_cluster_canonical" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION SELECT b, a FROM p),
        |reach(x, y) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.x, e.dst FROM reach r JOIN edges e ON e.src = r.y),
        |cl AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x),
        |j AS (
        |  SELECT cl.cluster_id, d.doc_id, d.source, d.n_chars
        |  FROM documents d JOIN cl USING (doc_id)),
        |canon AS (
        |  SELECT cluster_id, doc_id AS canonical_id FROM (
        |    SELECT cluster_id, doc_id, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
        |    FROM j) WHERE rn = 1)
        |SELECT j.cluster_id, canon.canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  array_to_string(list_sort(list_distinct(list(j.source))), ',') AS sources,
        |  CAST(sum(j.n_chars) AS BIGINT) AS total_chars
        |FROM j JOIN canon ON canon.cluster_id = j.cluster_id
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // identical per-(user,type) lag window in exact epoch micros
    "x127_debounce" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept
        |FROM e WHERE prev IS NULL OR us - prev > 600 * 1000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x2's exact pair set (the engine's minhash edges are provably that
    // set — x2 pins it), symmetrized, then both max-decay rounds unrolled
    "x126_label_prop" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9),
        |e AS (SELECT a AS src, b AS dst FROM p
        |      UNION ALL SELECT b AS src, a AS dst FROM p),
        |s0 AS (
        |  SELECT doc_id AS node,
        |    CASE WHEN doc_id % 13 = 0 THEN 1.0 ELSE 0.0 END AS sc
        |  FROM documents),
        |s1 AS (
        |  SELECT s0.node, greatest(s0.sc, 0.5 * coalesce(m.m, 0)) AS sc
        |  FROM s0 LEFT JOIN (
        |    SELECT e.dst AS node, max(s0.sc) AS m
        |    FROM e JOIN s0 ON e.src = s0.node GROUP BY 1) m USING (node)),
        |s2 AS (
        |  SELECT s1.node, greatest(s1.sc, 0.5 * coalesce(m.m, 0)) AS sc
        |  FROM s1 LEFT JOIN (
        |    SELECT e.dst AS node, max(s1.sc) AS m
        |    FROM e JOIN s1 ON e.src = s1.node GROUP BY 1) m USING (node))
        |SELECT node, (round(sc, 4) + 0) AS score
        |FROM s2 ORDER BY node""".stripMargin,
    // identical counts, prior, z arithmetic, and round-before-rank
    "x124_distinctive_tokens" ->
      """WITH tk AS (
        |  SELECT lang,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT lang, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |lt AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS nl FROM cnt GROUP BY 1),
        |tt AS (SELECT tok, CAST(sum(c) AS DOUBLE) AS cw FROM cnt GROUP BY 1),
        |nn AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt),
        |g AS (
        |  SELECT tt.tok, lt.lang, lt.nl, tt.cw,
        |    CAST(coalesce(cnt.c, 0) AS DOUBLE) AS clw,
        |    100.0 * tt.cw / (SELECT n FROM nn) AS aw
        |  FROM tt CROSS JOIN lt
        |  LEFT JOIN cnt ON cnt.tok = tt.tok AND cnt.lang = lt.lang),
        |z AS (
        |  SELECT lang, tok,
        |    round((ln((clw + aw) / (nl + 100.0 - clw - aw))
        |         - ln(((cw - clw) + aw)
        |             / (((SELECT n FROM nn) - nl) + 100.0 - (cw - clw) - aw)))
        |      / sqrt(1.0 / (clw + aw) + 1.0 / ((cw - clw) + aw)), 6) + 0 AS z
        |  FROM g),
        |r AS (
        |  SELECT lang, tok, z,
        |    row_number() OVER (PARTITION BY lang ORDER BY z DESC, tok) AS rank
        |  FROM z)
        |SELECT lang, tok, z, rank FROM r WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    // x60's LM body, identical rounding, then per-lang quantile + filter
    "x125_quality_gate" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        |vn AS (SELECT count(*) AS v FROM voc),
        |sc AS (
        |  SELECT tk.doc_id,
        |    round(avg(log10((coalesce(voc.c, 0) + 1) / (tot.n + vn.v + 1.0))), 6)
        |      + 0 AS lp
        |  FROM tk LEFT JOIN voc USING (tok), tot, vn
        |  GROUP BY 1),
        |s AS (
        |  SELECT d.lang, sc.lp FROM documents d JOIN sc USING (doc_id)),
        |thr AS (
        |  SELECT lang, quantile_cont(lp, 0.3) AS t FROM s GROUP BY lang)
        |SELECT s.lang, CAST(count(*) AS BIGINT) AS n_kept
        |FROM s JOIN thr ON thr.lang = s.lang
        |WHERE s.lp >= thr.t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same fixed cutoff and split tags; the no-leak flag re-derived from
    // the same max/min compare
    "x123_temporal_split" ->
      """WITH t AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts <= TIMESTAMP '2024-01-25 00:00:00'
        |         THEN 'train' ELSE 'test' END AS split
        |  FROM events),
        |f AS (
        |  SELECT max(CASE WHEN split = 'train' THEN ts END) <
        |         min(CASE WHEN split = 'test' THEN ts END) AS no_leak_ok
        |  FROM t)
        |SELECT split, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  (SELECT no_leak_ok FROM f) AS no_leak_ok
        |FROM t GROUP BY split ORDER BY split""".stripMargin,
    // per-position mean/stddev replayed over the unnested arrays
    "x121_embed_dim_stats" ->
      """WITH p AS (
        |  SELECT unnest(range(len(embedding))) AS pos, embedding
        |  FROM embeddings),
        |x AS (
        |  SELECT pos, CAST(embedding[pos + 1] AS DOUBLE) AS x FROM p)
        |SELECT pos, (round(avg(x), 6) + 0) AS mu,
        |  (round(stddev_samp(x), 6) + 0) AS sd
        |FROM x GROUP BY pos ORDER BY pos""".stripMargin,
    // the TRUE flags are earned in-plan from the distributed power
    // iteration (PC1 variance dominates every axis, centered projection,
    // unit direction); the oracle re-derives the exact counts
    "x122_pca_top" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs, 64 AS dims,
        |  TRUE AS pc1_dominates_axes_ok, TRUE AS centered_ok,
        |  TRUE AS unit_ok
        |FROM embeddings""".stripMargin,
    // identical rank (md5-shuffled within source) and position
    // arithmetic; sidx from the sorted distinct-source list
    "x120_interleave" ->
      """WITH s AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx,
        |    count(*) OVER () AS nsrc
        |  FROM (SELECT DISTINCT source FROM documents)),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT (r.rk - 1) * s.nsrc + s.sidx AS global_pos, r.doc_id, r.source
        |FROM r JOIN s USING (source)
        |ORDER BY global_pos LIMIT 100""".stripMargin,
    // identical hash arithmetic: md5 of the '|'-joined values, first 15
    // hex digits as a 60-bit int, XOR-folded
    "x112_table_fingerprint" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  coalesce(bit_xor(CAST(('0x' || substr(md5(
        |    coalesce(o_orderkey::VARCHAR, ' ') || '|' ||
        |    coalesce(o_custkey::VARCHAR, ' ') || '|' ||
        |    coalesce(o_orderstatus, ' ') || '|' ||
        |    coalesce(o_orderpriority, ' ')), 1, 15)) AS BIGINT)), 0)::BIGINT
        |    AS fingerprint
        |FROM orders""".stripMargin,
    // same un-normalized passes; every intermediate is an exact
    // integer-valued double, normalize once at output
    "x113_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT DISTINCT src, 1.0 AS h FROM e),
        |a1 AS (SELECT dst, sum(h) AS a FROM e JOIN h0 USING (src) GROUP BY dst),
        |h1 AS (SELECT src, sum(a) AS h FROM e JOIN a1 USING (dst) GROUP BY src),
        |a2 AS (SELECT dst, sum(h) AS a FROM e JOIN h1 USING (src) GROUP BY dst),
        |h2 AS (SELECT src, sum(a) AS h FROM e JOIN a2 USING (dst) GROUP BY src),
        |a3 AS (SELECT dst, sum(h) AS a FROM e JOIN h2 USING (src) GROUP BY dst),
        |h3 AS (SELECT src, sum(a) AS h FROM e JOIN a3 USING (dst) GROUP BY src),
        |nh AS (SELECT sqrt(sum(h * h)) AS n FROM h3),
        |na AS (SELECT sqrt(sum(a * a)) AS n FROM a3)
        |SELECT nodes.node,
        |  (round(coalesce(h3.h, 0) / (SELECT n FROM nh) * 1000, 6) + 0)
        |    AS hub_x1000,
        |  (round(coalesce(a3.a, 0) / (SELECT n FROM na) * 1000, 6) + 0)
        |    AS auth_x1000
        |FROM nodes
        |LEFT JOIN h3 ON nodes.node = h3.src
        |LEFT JOIN a3 ON nodes.node = a3.dst
        |ORDER BY node""".stripMargin,
    // exact tau-pairs from a naive posting-list join — the result the
    // prefix filter must reproduce losslessly
    "x106_prefix_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM s),
        |sz AS (SELECT doc_id, len(sh) AS sz FROM s),
        |c AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
        |  FROM ex a JOIN ex b USING (s)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.a, c.b,
        |  (round(common::DOUBLE / (za.sz + zb.sz - common), 4) + 0) AS jaccard
        |FROM c
        |JOIN sz za ON c.a = za.doc_id
        |JOIN sz zb ON c.b = zb.doc_id
        |WHERE common::DOUBLE / (za.sz + zb.sz - common) >= 0.5
        |ORDER BY a, b""".stripMargin,
    // single-pass recompute — what the merged partial states must equal
    "x107_incremental_stats" ->
      """SELECT source, count(n_chars) AS n,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  (round(avg(n_chars), 4) + 0) AS mean_chars,
        |  (round(stddev(n_chars), 4) + 0) AS sd_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // exact containment pairs from a naive posting join — the prefix-probe
    // scheme must reproduce them losslessly
    "x108_containment_join" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM s),
        |sz AS (SELECT doc_id, len(sh) AS sz FROM s),
        |c AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
        |  FROM ex a JOIN ex b USING (s)
        |  WHERE a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.a, c.b,
        |  (round(common::DOUBLE / za.sz, 4) + 0) AS containment
        |FROM c JOIN sz za ON c.a = za.doc_id
        |WHERE common::DOUBLE / za.sz >= 0.8
        |ORDER BY a, b""".stripMargin,
    // same md5 bucket arithmetic as the engine — the oracle replays the
    // exact sample, so the estimate matches bit-for-bit
    "x109_dup_rate" ->
      """WITH smp AS (
        |  SELECT text FROM documents
        |  WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 64 < 8),
        |g AS (SELECT text, count(*) AS c FROM smp GROUP BY 1)
        |SELECT coalesce(sum(c), 0)::BIGINT AS n_sampled,
        |  coalesce(sum(c - 1), 0)::BIGINT AS n_dup_sampled,
        |  (round(sum(c - 1)::DOUBLE / sum(c), 6) + 0) AS dup_rate_est
        |FROM g""".stripMargin,
    // own-label prototype score, bottom-5 per label
    "x110_label_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE label IS NOT NULL AND len(embedding) > 0),
        |px AS (
        |  SELECT label AS lab, generate_subscripts(v, 1) AS i, unnest(v) AS x
        |  FROM e),
        |m AS (SELECT lab, i, avg(x) AS m FROM px GROUP BY 1, 2),
        |nrm AS (SELECT lab, sqrt(sum(m * m)) AS nn FROM m GROUP BY 1),
        |u AS (SELECT m.lab, m.i,
        |        CASE WHEN nrm.nn > 0 THEN m.m / nrm.nn ELSE m.m END AS u
        |      FROM m JOIN nrm USING (lab)),
        |sc AS (
        |  SELECT e.vec_id, e.label,
        |    (round(sum(e.v[u.i] * u.u), 6) + 0) AS score
        |  FROM e JOIN u ON u.lab = e.label
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT vec_id, label, score,
        |    row_number() OVER (PARTITION BY label ORDER BY score, vec_id) AS rn
        |  FROM sc)
        |SELECT vec_id, label, score, rn FROM rk WHERE rn <= 5
        |ORDER BY label, rn""".stripMargin,
    "x101_cms_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |top AS (SELECT tok, c AS n FROM cnt ORDER BY n DESC, tok LIMIT 10),
        |buck AS (
        |  SELECT t.r,
        |    CAST(('0x' || substr(md5(cnt.tok || ':' || t.r), 1, 8)) AS BIGINT)
        |      % 16 AS b,
        |    CAST(sum(cnt.c) AS BIGINT) AS cc
        |  FROM cnt CROSS JOIN range(3) t(r)
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT top.tok, top.n, min(buck.cc) AS cms_est
        |  FROM top CROSS JOIN range(3) t(r)
        |  JOIN buck ON buck.r = t.r AND buck.b =
        |    CAST(('0x' || substr(md5(top.tok || ':' || t.r), 1, 8)) AS BIGINT) % 16
        |  GROUP BY 1, 2)
        |SELECT tok, n, cms_est FROM est
        |ORDER BY n DESC, tok""".stripMargin,
    "x102_label_confusion" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE label IS NOT NULL AND len(embedding) > 0),
        |px AS (
        |  SELECT label AS lab, generate_subscripts(v, 1) AS i, unnest(v) AS x
        |  FROM e),
        |m AS (SELECT lab, i, avg(x) AS m FROM px GROUP BY 1, 2),
        |nrm AS (SELECT lab, sqrt(sum(m * m)) AS nn FROM m GROUP BY 1),
        |u AS (SELECT m.lab, m.i,
        |        CASE WHEN nrm.nn > 0 THEN m.m / nrm.nn ELSE m.m END AS u
        |      FROM m JOIN nrm USING (lab)),
        |sc AS (
        |  SELECT e.vec_id, e.label, u.lab,
        |    (round(sum(e.v[u.i] * u.u), 6) + 0) AS s
        |  FROM e CROSS JOIN u
        |  GROUP BY 1, 2, 3),
        |asg AS (
        |  SELECT vec_id, label, lab AS assigned,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, lab) AS rn
        |  FROM sc)
        |SELECT label, assigned, count(*) AS n
        |FROM asg WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x103_bigram_lp" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS w
        |  FROM tk),
        |bg AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS tok
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |cnt AS (SELECT tok, count(*) AS c FROM bg GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        |vn AS (SELECT count(*) AS v FROM voc),
        |sc AS (
        |  SELECT bg.doc_id,
        |    avg(log10((coalesce(voc.c, 0) + 1) / (tot.n + vn.v + 1.0))) AS lp
        |  FROM bg LEFT JOIN voc USING (tok), tot, vn
        |  GROUP BY 1)
        |SELECT d.doc_id, (round(sc.lp, 6) + 0) AS bigram_lp
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "x98_bloom_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM corpus WHERE doc_id < 40)
        |SELECT b.doc_id FROM batch b
        |WHERE EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
        |ORDER BY doc_id""".stripMargin,
    "x52_incremental_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |near AS (
        |  SELECT n.doc_id
        |  FROM s n, s c
        |  WHERE n.doc_id % 5 = 4 AND c.doc_id % 5 <> 4
        |    AND len(list_intersect(n.sh, c.sh))::DOUBLE /
        |        len(list_distinct(list_concat(n.sh, c.sh))) >= 0.9),
        |ex AS (
        |  SELECT n.doc_id
        |  FROM documents n JOIN documents c
        |    ON n.text = c.text AND n.doc_id % 5 = 4 AND c.doc_id % 5 <> 4)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 5 = 4
        |  AND doc_id NOT IN (SELECT doc_id FROM near)
        |  AND doc_id NOT IN (SELECT doc_id FROM ex)
        |ORDER BY doc_id""".stripMargin,
    "x49_train_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "x50_pack_sequences" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS INTEGER) AS shard
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens, shard,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
        |  FROM tk)
        |SELECT doc_id, n_tokens, shard, start_tok,
        |  CAST(floor(start_tok / 256) AS BIGINT) AS seq_id,
        |  CAST(start_tok % 256 AS BIGINT) AS seq_off
        |FROM o ORDER BY doc_id""".stripMargin,
    "x51_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |d AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok,
        |    count(*) AS n_distinct
        |  FROM c GROUP BY 1),
        |f AS (
        |  SELECT doc_id,
        |    (round(1.0 - CAST(n_distinct AS DOUBLE) / n_tok, 6) + 0) AS dup_token_frac,
        |    (round(CAST(top_c AS DOUBLE) / n_tok, 6) + 0) AS top_token_frac
        |  FROM d)
        |SELECT doc_id, dup_token_frac, top_token_frac,
        |  (dup_token_frac <= 0.75 AND top_token_frac <= 0.30) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // conjunctive search replayed from raw text: docs holding all 3 terms
    "x129_stored_text_index" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents)
        |SELECT doc_id FROM toks
        |WHERE term IN ('join', 'hash', 'vector')
        |GROUP BY doc_id
        |HAVING count(DISTINCT term) = 3
        |ORDER BY doc_id""".stripMargin,
    // full BM25 replay: same tokenizer, same Lucene-default constants,
    // idf rounded to 8 before use, per-term score scaled to an exact
    // x10^4 BIGINT before the per-doc sum (order-free integer addition)
    "x130_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |meta AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(round((round(ln((meta.n - df + 0.5) / (df + 0.5) + 1.0), 8) + 0)
        |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl.dl / meta.avgdl))))
        |      * 10000.0, 0) AS BIGINT) AS sx
        |  FROM tf JOIN dfreq USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN meta
        |  WHERE term IN ('join', 'hash', 'vector')),
        |agg AS (
        |  SELECT doc_id, CAST(sum(sx) AS BIGINT) AS score_x10k
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, score_x10k,
        |  CAST(row_number() OVER (ORDER BY score_x10k DESC, doc_id) AS INT) AS rank
        |FROM agg ORDER BY rank LIMIT 10""".stripMargin,
    // histogram-quantile replay: same 64 equi-width bins over [0,600000),
    // same first-bin-reaching-target pick, same interpolation arithmetic
    "x131_mergeable_quantiles" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS pri,
        |    least(63, greatest(0,
        |      CAST(floor((o_totalprice - 0.0) / 9375.0) AS INT))) AS bin
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT pri, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |n AS (SELECT pri, sum(c) AS n FROM c GROUP BY 1),
        |cum AS (SELECT pri, bin, c,
        |    sum(c) OVER (PARTITION BY pri ORDER BY bin) AS cum
        |  FROM c),
        |q AS (SELECT unnest([0.5, 0.9]) AS q),
        |t AS (SELECT n.pri, q.q, n.n, n.n * q.q AS target FROM n CROSS JOIN q),
        |pick AS (
        |  SELECT t.pri, t.q, t.n, t.target, min(cum.bin) AS bin
        |  FROM t JOIN cum ON cum.pri = t.pri AND cum.cum >= t.target
        |  GROUP BY 1, 2, 3, 4),
        |est AS (
        |  SELECT p.pri, p.q, p.n,
        |    0.0 + 9375.0 * (p.bin + (p.target - coalesce(
        |      (SELECT sum(c2.c) FROM c c2
        |       WHERE c2.pri = p.pri AND c2.bin < p.bin), 0))
        |      / (SELECT c3.c FROM c c3
        |         WHERE c3.pri = p.pri AND c3.bin = p.bin)) AS est
        |  FROM pick p)
        |SELECT pri AS o_orderpriority, CAST(max(n) AS BIGINT) AS n,
        |  (round(max(CASE WHEN q = 0.5 THEN est END), 4) + 0) AS p50_est,
        |  (round(max(CASE WHEN q = 0.9 THEN est END), 4) + 0) AS p90_est
        |FROM est GROUP BY pri ORDER BY o_orderpriority""".stripMargin,
    // same raw-space-split 5-grams as the engine; dup = corpus count >= 2
    "x132_dup_gram_fraction" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 4)) AS p, t
        |  FROM d WHERE len(t) >= 5),
        |g AS (SELECT doc_id, array_to_string(t[p+1:p+5], ' ') AS s FROM g0),
        |c AS (SELECT s, count(*) AS c FROM g GROUP BY 1),
        |a AS (SELECT doc_id, count(*) AS n_grams,
        |    count(*) FILTER (WHERE c >= 2) AS n_dup
        |  FROM g JOIN c USING (s) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |  coalesce(n_dup, 0) AS n_dup,
        |  CASE WHEN coalesce(n_grams, 0) > 0
        |    THEN (round(n_dup::DOUBLE / n_grams, 4) + 0) ELSE 0.0 END AS dup_frac
        |FROM d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // adjacency replayed from the raw token list: count positions p with
    // t[p]='table' and t[p+1]='hash' per doc
    "x133_phrase_search" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(range(len(t) - 1)) AS p, t
        |  FROM d WHERE len(t) >= 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ
        |FROM g WHERE t[p+1] = 'table' AND t[p+2] = 'hash'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // append ≡ rebuild: the oracle replays BM25 over the FULL corpus —
    // same formula/rounding ladder as x130, different query terms
    "x134_text_index_append" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |meta AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(round((round(ln((meta.n - df + 0.5) / (df + 0.5) + 1.0), 8) + 0)
        |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl.dl / meta.avgdl))))
        |      * 10000.0, 0) AS BIGINT) AS sx
        |  FROM tf JOIN dfreq USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN meta
        |  WHERE term IN ('scan', 'merge', 'vector')),
        |agg AS (
        |  SELECT doc_id, CAST(sum(sx) AS BIGINT) AS score_x10k
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, score_x10k,
        |  CAST(row_number() OVER (ORDER BY score_x10k DESC, doc_id) AS INT) AS rank
        |FROM agg ORDER BY rank LIMIT 10""".stripMargin,
    // x2's exact pair truth (the engine's verified LSH pairs are provably
    // that set), mapped to unordered source cells
    "x136_cross_source_dup_share" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT least(a.source, b.source) AS source_a,
        |    greatest(a.source, b.source) AS source_b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) >= 0.9),
        |c AS (SELECT source_a, source_b, count(*) AS n_pairs FROM p GROUP BY 1, 2)
        |SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  (round(n_pairs::DOUBLE / sum(n_pairs) OVER (), 6) + 0) AS share,
        |  source_a <> source_b AS cross_source
        |FROM c ORDER BY source_a, source_b""".stripMargin,
    // x5's quality gate × x132's duplication gate, kappa from four cells
    "x137_gate_agreement" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tok,
        |    length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
        |    length(text) AS n_chars,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stop_hits
        |  FROM documents),
        |q AS (SELECT doc_id, ((round(
        |    (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN n_tok > 0 AND (n_nonspace::DOUBLE / n_tok) BETWEEN 2.0 AND 12.0
        |      THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END) < 0.2
        |      THEN 0.25 ELSE 0.0 END) +
        |    (CASE WHEN stop_hits > 0 THEN 0.25 ELSE 0.0 END), 2) + 0) >= 0.75) AS gq
        |  FROM b),
        |d0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 4)) AS p, t
        |  FROM d0 WHERE len(t) >= 5),
        |g AS (SELECT doc_id, array_to_string(t[p+1:p+5], ' ') AS s FROM g0),
        |cg AS (SELECT s, count(*) AS c FROM g GROUP BY 1),
        |a AS (SELECT doc_id, count(*) AS n_grams,
        |    count(*) FILTER (WHERE c >= 2) AS n_dup
        |  FROM g JOIN cg USING (s) GROUP BY 1),
        |dd AS (SELECT d0.doc_id,
        |    ((CASE WHEN coalesce(n_grams, 0) > 0
        |      THEN (round(n_dup::DOUBLE / n_grams, 4) + 0) ELSE 0.0 END) <= 0.5) AS gd
        |  FROM d0 LEFT JOIN a USING (doc_id)),
        |j AS (SELECT gq, gd FROM q JOIN dd USING (doc_id)),
        |cells AS (SELECT count(*) AS n,
        |    sum(CASE WHEN gq AND gd THEN 1 ELSE 0 END) AS n11,
        |    sum(CASE WHEN gq AND NOT gd THEN 1 ELSE 0 END) AS n10,
        |    sum(CASE WHEN NOT gq AND gd THEN 1 ELSE 0 END) AS n01
        |  FROM j),
        |r AS (SELECT n, n11, n10, n01,
        |    (n11 + (n - n11 - n10 - n01))::DOUBLE / n AS po0,
        |    ((n11 + n10)::DOUBLE / n) * ((n11 + n01)::DOUBLE / n)
        |      + (1.0 - (n11 + n10)::DOUBLE / n) * (1.0 - (n11 + n01)::DOUBLE / n) AS pe0
        |  FROM cells)
        |SELECT CAST(n AS BIGINT) AS n, (round(po0, 6) + 0) AS po,
        |  (round(pe0, 6) + 0) AS pe,
        |  CASE WHEN pe0 = 1.0 THEN NULL
        |    ELSE (round((po0 - pe0) / (1.0 - pe0), 6) + 0) END AS kappa
        |FROM r""".stripMargin,
    // x116's model refit in SQL, top-2 margins in exact x10^6 longs,
    // fixed 0.25-wide bins
    "x138_nb_calibration" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT lang, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY 1),
        |voc AS (SELECT DISTINCT tok FROM tk),
        |vn AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM voc),
        |nd AS (SELECT lang, count(*) AS ndocs FROM documents GROUP BY 1),
        |ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |grid AS (
        |  SELECT voc.tok, tot.lang,
        |    ln((coalesce(cnt.c, 0) + 1) / (tot.t + (SELECT v FROM vn))) AS lp
        |  FROM voc CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.tok = voc.tok AND cnt.lang = tot.lang),
        |sc AS (
        |  SELECT tk.doc_id, grid.lang AS plab,
        |    round(sum(grid.lp)
        |      + ln(max(nd.ndocs) / (SELECT n FROM ntot)), 6) + 0 AS score
        |  FROM tk JOIN grid ON tk.tok = grid.tok
        |  JOIN nd ON nd.lang = grid.lang
        |  GROUP BY 1, 2),
        |sx AS (SELECT doc_id, plab,
        |    CAST(round(score * 1000000.0, 0) AS BIGINT) AS sxv,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, plab) AS rn
        |  FROM sc),
        |pd AS (SELECT a.doc_id, a.plab AS pred, a.sxv - b.sxv AS mx
        |  FROM sx a JOIN sx b ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2),
        |bb AS (SELECT least(9, CAST(floor(mx / 250000.0) AS INT)) AS bin,
        |    CASE WHEN pd.pred = d.lang THEN 1 ELSE 0 END AS ok, mx
        |  FROM pd JOIN documents d USING (doc_id))
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ok) AS BIGINT) AS n_correct,
        |  (round(sum(ok)::DOUBLE / count(*), 6) + 0) AS accuracy,
        |  (round(sum(mx)::DOUBLE / 1000000.0 / count(*), 6) + 0) AS mean_margin
        |FROM bb GROUP BY 1 ORDER BY bin""".stripMargin,
    // per-key count products; top contributor via the same
    // (rows desc, key-string desc) total order the engine aggregates
    "x139_join_size_estimate" ->
      """WITH cl AS (SELECT o_orderkey AS k, count(*) AS nl FROM orders GROUP BY 1),
        |cr AS (SELECT l_orderkey AS k, count(*) AS nr FROM lineitem GROUP BY 1),
        |p AS (SELECT k, nl * nr AS pr FROM cl JOIN cr USING (k)),
        |tl AS (SELECT CAST(coalesce(sum(nl), 0) AS BIGINT) AS n_left FROM cl),
        |tr AS (SELECT CAST(coalesce(sum(nr), 0) AS BIGINT) AS n_right FROM cr),
        |tp AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_joined,
        |    CAST(coalesce(sum(pr), 0) AS BIGINT) AS n_join
        |  FROM p),
        |t1 AS (SELECT CAST(k AS VARCHAR) AS top_key,
        |    CAST(pr AS BIGINT) AS top_key_rows
        |  FROM p ORDER BY pr DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
        |SELECT n_left, n_right, n_keys_joined, n_join,
        |  (round(n_join::DOUBLE / n_left, 6) + 0) AS fanout,
        |  top_key, top_key_rows
        |FROM tl, tr, tp LEFT JOIN t1 ON TRUE""".stripMargin,
    // the SAME generated bit-interleave expression the engine runs
    "x140_zorder_key" ->
      s"""SELECT o_orderkey, ${graft.operators.Layout.zValueSql("o_custkey",
           "CAST(floor(o_totalprice / 10.0) AS BIGINT)", 16)} AS z
         |FROM orders ORDER BY o_orderkey""".stripMargin,
    // single pass over the union replays the three-batch fold: same 25
    // bins over [0,50), same pick and interpolation as x131
    "x141_hist_state_table" ->
      """WITH b AS (
        |  SELECT l_returnflag AS k,
        |    least(24, greatest(0,
        |      CAST(floor((l_quantity - 0.0) / 2.0) AS INT))) AS bin
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |c AS (SELECT k, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |n AS (SELECT k, sum(c) AS n FROM c GROUP BY 1),
        |cum AS (SELECT k, bin, c,
        |    sum(c) OVER (PARTITION BY k ORDER BY bin) AS cum
        |  FROM c),
        |q AS (SELECT unnest([0.5, 0.95]) AS q),
        |t AS (SELECT n.k, q.q, n.n, n.n * q.q AS target FROM n CROSS JOIN q),
        |pick AS (
        |  SELECT t.k, t.q, t.n, t.target, min(cum.bin) AS bin
        |  FROM t JOIN cum ON cum.k = t.k AND cum.cum >= t.target
        |  GROUP BY 1, 2, 3, 4),
        |est AS (
        |  SELECT p.k, p.q, p.n,
        |    0.0 + 2.0 * (p.bin + (p.target - coalesce(
        |      (SELECT sum(c2.c) FROM c c2
        |       WHERE c2.k = p.k AND c2.bin < p.bin), 0))
        |      / (SELECT c3.c FROM c c3
        |         WHERE c3.k = p.k AND c3.bin = p.bin)) AS est
        |  FROM pick p)
        |SELECT k AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  (round(max(CASE WHEN q = 0.5 THEN est END), 4) + 0) AS p50_est,
        |  (round(max(CASE WHEN q = 0.95 THEN est END), 4) + 0) AS p95_est
        |FROM est GROUP BY k ORDER BY l_returnflag""".stripMargin,
    // exact pair truth (x2's set), id-oriented triangle replay — the
    // count is orientation-invariant, so it equals the engine's
    // degree-oriented census
    "x142_triangle_census" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |e AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |    AND (round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0) >= 0.9),
        |deg AS (SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY 1),
        |tri AS (SELECT count(*) AS nt FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |w AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(coalesce(sum((d * (d - 1)) >> 1), 0) AS BIGINT) AS n_wedges
        |  FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, CAST(nt AS BIGINT) AS n_triangles,
        |  n_wedges,
        |  CASE WHEN n_wedges = 0 THEN NULL
        |    ELSE (round(3.0 * nt / n_wedges, 6) + 0) END AS global_clustering
        |FROM ne, w, tri""".stripMargin,
    // same lowercase whitespace tokens, exact counts, round-6 ratio
    "x151_type_token_ratio" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
        |  (round(count(DISTINCT tok)::DOUBLE / count(*), 6) + 0) AS ttr
        |FROM tk GROUP BY source ORDER BY source""".stripMargin,
    // x5's quality + x132's dup fraction + token counts, means over
    // exact scaled-long sums with the same division ladder
    "x150_source_health" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tok,
        |    length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
        |    length(text) AS n_chars,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stop_hits
        |  FROM documents),
        |q AS (SELECT doc_id, source, n_tok,
        |    CAST(round((round(
        |      (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) +
        |      (CASE WHEN n_tok > 0 AND (n_nonspace::DOUBLE / n_tok) BETWEEN 2.0 AND 12.0
        |        THEN 0.25 ELSE 0.0 END) +
        |      (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END) < 0.2
        |        THEN 0.25 ELSE 0.0 END) +
        |      (CASE WHEN stop_hits > 0 THEN 0.25 ELSE 0.0 END), 2) + 0) * 100, 0) AS BIGINT) AS qx
        |  FROM b),
        |d0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g0 AS (SELECT doc_id, unnest(range(len(t) - 4)) AS p, t
        |  FROM d0 WHERE len(t) >= 5),
        |g AS (SELECT doc_id, array_to_string(t[p+1:p+5], ' ') AS s FROM g0),
        |cg AS (SELECT s, count(*) AS c FROM g GROUP BY 1),
        |a AS (SELECT doc_id, count(*) AS n_grams,
        |    count(*) FILTER (WHERE c >= 2) AS n_dup
        |  FROM g JOIN cg USING (s) GROUP BY 1),
        |dd AS (SELECT d0.doc_id,
        |    CAST(round((CASE WHEN coalesce(n_grams, 0) > 0
        |      THEN (round(n_dup::DOUBLE / n_grams, 4) + 0)
        |      ELSE 0.0 END) * 10000, 0) AS BIGINT) AS dx
        |  FROM d0 LEFT JOIN a USING (doc_id))
        |SELECT q.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(q.n_tok) AS BIGINT) AS n_tokens,
        |  (round(sum(q.qx)::DOUBLE / count(*) / 100.0, 6) + 0) AS mean_quality,
        |  (round(sum(dd.dx)::DOUBLE / count(*) / 10000.0, 6) + 0) AS mean_dup_frac
        |FROM q JOIN dd USING (doc_id)
        |GROUP BY q.source ORDER BY q.source""".stripMargin,
    // footers must agree with the data: the oracle computes the same
    // facts by scanning
    "x149_metadata_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents""".stripMargin,
    // totals and bounds come from the z-store's footers and must agree
    // with the flat data; the narrow-span flags are the layout contract
    // (in-oracle property, like the ANN recall floors)
    "x154_zorder_footer_profile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
        |  true AS custkey_narrow, true AS totalprice_narrow
        |FROM orders""".stripMargin,
    // v1 ∪ v2 = doc_id % 10 = 0, so append-then-serve must equal the
    // direct screen over that union — the same replay as x147
    "x148_decontamination_append" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
        |      for i in range(1, len(toks) - 6)])
        |    END AS sh
        |  FROM t),
        |b AS (SELECT DISTINCT unnest(sh) AS sg FROM s WHERE doc_id % 10 = 0),
        |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |h AS (SELECT doc_id, count(*) AS hits FROM e JOIN b USING (sg) GROUP BY doc_id)
        |SELECT s.doc_id, len(s.sh) AS n_shingles,
        |  coalesce(hits, 0) AS contaminated,
        |  (round(CASE WHEN len(s.sh) = 0 THEN 0.0
        |    ELSE coalesce(hits, 0)::DOUBLE / len(s.sh) END, 4) + 0) AS contaminated_frac
        |FROM s LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // store+serve ≡ direct screen: the oracle replays x42's direct
    // contamination semantics over the same benchmark subset
    "x147_stored_decontamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
        |      for i in range(1, len(toks) - 6)])
        |    END AS sh
        |  FROM t),
        |b AS (SELECT DISTINCT unnest(sh) AS sg FROM s WHERE doc_id % 10 = 0),
        |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |h AS (SELECT doc_id, count(*) AS hits FROM e JOIN b USING (sg) GROUP BY doc_id)
        |SELECT s.doc_id, len(s.sh) AS n_shingles,
        |  coalesce(hits, 0) AS contaminated,
        |  (round(CASE WHEN len(s.sh) = 0 THEN 0.0
        |    ELSE coalesce(hits, 0)::DOUBLE / len(s.sh) END, 4) + 0) AS contaminated_frac
        |FROM s LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // store+append+serve ≡ the exact batch×corpus Jaccard truth — the
    // oracle replays the O(batch×corpus) exact pair set (x2's idiom),
    // so serve-off-store recall is end-to-end checked
    // every greedy MMR step unrolled as a materialized CTE; integer
    // x1e4 step scores, ties on ascending id — argmax engine-exact
    "x171_mmr_rerank" -> mmrOracleSql(k = 10, poolK = 30),
    // x114's replay verbatim: the diff of two time-travel reads must
    // equal the diff of the same revisions built in memory
    "x175_version_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 1),
        |j AS (
        |  SELECT coalesce(v1.text, ' ') AS t1, coalesce(v2.text, ' ') AS t2,
        |    v1.doc_id IS NULL AS no1, v2.doc_id IS NULL AS no2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT
        |  CASE WHEN no1 THEN 'added' WHEN no2 THEN 'removed'
        |       WHEN t1 <> t2 THEN 'changed' ELSE 'unchanged' END AS status,
        |  count(*)::BIGINT AS n
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // shape contract like x165: k diversified results for the one
    // query; overlap_ok is the earned floor of the fully-composed
    // stored-index serve against the exact composition (stored BM25 +
    // brute-force vectors + the same fusion and greedy)
    "x176_three_stage_serve" ->
      "SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS overlap_ok",
    // the evolved diff replays over the versions' SHARED column (text)
    // only — the added `source` column must not pollute the
    // classification; the schema change itself arrives as data
    "x177_schema_evolved_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 4 <> 1),
        |j AS (
        |  SELECT coalesce(v1.text, ' ') AS t1, coalesce(v2.text, ' ') AS t2,
        |    v1.doc_id IS NULL AS no1, v2.doc_id IS NULL AS no2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT
        |  CASE WHEN no1 THEN 'added' WHEN no2 THEN 'removed'
        |       WHEN t1 <> t2 THEN 'changed' ELSE 'unchanged' END AS status,
        |  count(*)::BIGINT AS n,
        |  'source:added' AS schema_delta
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the PiT serve replays from the raw tables: the same three balance
    // snapshots, the version in force CASE-derived from the same fixed
    // boundaries, the same integer sums
    "x178_pit_dim_serve" -> pitLadderOracleSql,
    // x178's oracle VERBATIM: the interval-table serve must be
    // hash-indistinguishable from the snapshot-union serve
    "x184_pit_interval_serve" -> pitLadderOracleSql,
    // the fixture is fully determined by the commit/compact sequence;
    // prune_matched is EARNED in-plan (the real prunes run after the
    // report and the survivors are diffed against its prediction)
    "x185_store_health" ->
      """SELECT * FROM (VALUES
        |  ('bundle', '1', CAST(1 AS BIGINT), TRUE, FALSE, TRUE, 'retention', TRUE),
        |  ('bundle', '2', CAST(2 AS BIGINT), TRUE, FALSE, TRUE, 'retention', TRUE),
        |  ('bundle', '3', CAST(3 AS BIGINT), TRUE, TRUE, FALSE, 'latest', TRUE),
        |  ('table', '.staging-deadbeef', CAST(-1 AS BIGINT), FALSE, FALSE, FALSE, 'writer-grace', TRUE),
        |  ('table', '1', CAST(1 AS BIGINT), TRUE, FALSE, TRUE, 'retention', TRUE),
        |  ('table', '2', CAST(2 AS BIGINT), TRUE, FALSE, TRUE, 'retention', TRUE),
        |  ('table', '3', CAST(3 AS BIGINT), TRUE, FALSE, FALSE, 'keep-window', TRUE),
        |  ('table', '4', CAST(4 AS BIGINT), TRUE, TRUE, FALSE, 'latest', TRUE)
        |) AS t(kind, name, version, committed, is_latest, would_reclaim, reason, prune_matched)
        |ORDER BY kind, version, name""".stripMargin,
    // shape contract like x176, plus the earned filter property: the
    // engine counts served ids outside the allowed set (must be 0) and
    // overlap vs the exact FILTERED composition
    "x180_filtered_serve" ->
      ("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS all_allowed, " +
        "TRUE AS overlap_ok"),
    // interval count replays from the bump rule (one run per key plus
    // one per balance change); pit_equal is EARNED — the engine
    // rebuilds all versions from the intervals and diffs both ways
    "x181_version_history_scd2" ->
      """WITH k AS (
        |  SELECT c_custkey,
        |    1 + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END AS n_iv
        |  FROM customer)
        |SELECT count(*)::BIGINT AS n_keys,
        |  sum(n_iv)::BIGINT AS n_intervals,
        |  (3 * count(*))::BIGINT AS n_snapshot_rows,
        |  TRUE AS pit_equal
        |FROM k""".stripMargin,
    // interval count replays from the bump-and-tombstone rule (a
    // deleted-and-reinserted key holds exactly two intervals; others
    // one plus one per balance change); pit_equal is EARNED in-plan
    "x189_scd2_tombstones" ->
      """WITH k AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 9 = 0 THEN 2
        |         ELSE 1 + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END
        |                + CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END
        |    END AS n_iv
        |  FROM customer)
        |SELECT count(*)::BIGINT AS n_keys,
        |  sum(n_iv)::BIGINT AS n_intervals,
        |  (3 * count(*)
        |    - (SELECT count(*) FROM customer WHERE c_custkey % 9 = 0))::BIGINT
        |    AS n_snapshot_rows,
        |  TRUE AS pit_equal
        |FROM k""".stripMargin,
    // x169's refit replay VERBATIM: the bundle-ledgered delta ingest
    // plus compaction must serve counts identical to one-shot fitting
    "x179_lm_bundle_store" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        |vn AS (SELECT count(*) AS v FROM voc),
        |sc AS (
        |  SELECT tk.doc_id,
        |    avg(log10((coalesce(voc.c, 0) + 1) / (tot.n + vn.v + 1.0))) AS lp
        |  FROM tk LEFT JOIN voc USING (tok), tot, vn
        |  GROUP BY 1)
        |SELECT d.doc_id, (round(sc.lp, 6) + 0) AS unigram_lp
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // shape contract like x176: compaction_stable and the recall floor
    // are EARNED in-plan (pre/post-compaction serves anti-joined both
    // ways; overlap vs brute force), the append replay is require()d
    "x182_ann_bundle_store" ->
      ("SELECT CAST(30 AS BIGINT) AS n_results, TRUE AS compaction_stable, " +
        "TRUE AS recall_ok"),
    // shape contract like x176: all-qids-served and the per-qid overlap
    // floor vs the exact composition are EARNED in-plan; the count and
    // query-count are literal (8 queries × k=10)
    "x183_batched_serve" ->
      ("SELECT CAST(80 AS BIGINT) AS n_results, " +
        "CAST(8 AS BIGINT) AS n_queries, TRUE AS overlap_ok"),
    // the appended-text ≡ one-shot equivalence of the WHOLE serving
    // stack is EARNED in-plan (final ranked lists anti-joined both ways
    // on the full row); the count is literal
    "x187_bundle_stack_serve" ->
      "SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS matches_flat",
    // both takedown equivalences are EARNED in-plan (post-takedown
    // serves anti-joined both ways against rebuild-without-the-ids /
    // brute-force-over-the-remaining); the ledger replay is require()d
    "x188_takedown" ->
      ("SELECT CAST(10 AS BIGINT) AS n_text_results, " +
        "CAST(30 AS BIGINT) AS n_ann_results, " +
        "TRUE AS text_matches_rebuild, TRUE AS ann_matches_exact"),
    // shape contract like x182: compaction stability and the
    // bundle-serve ≡ one-shot-rebuild equivalence (BM25 ranked rows AND
    // positional phrase rows, anti-joined both ways) are EARNED in-plan;
    // the append replay is require()d
    "x186_text_bundle_store" ->
      ("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS compaction_stable, " +
        "TRUE AS matches_flat"),
    // both pinning claims are EARNED in-plan: the pinned re-serve after
    // the takedown anti-joins empty both ways against the pre-takedown
    // answer on the full (rank, nid, mmr4) row, and the latest serve
    // counts removed-id violations (must be 0); the count is literal
    "x190_pinned_serve" ->
      ("SELECT CAST(10 AS BIGINT) AS n_results, " +
        "TRUE AS pinned_matches_pre, TRUE AS latest_clean"),
    // both deployment claims are EARNED in-plan: skew_free (the serve
    // at the unflipped pin, taken BETWEEN the two stores' takedown
    // commits, anti-joins empty both ways against the pre-takedown
    // answer) and latest_clean (zero removed-id violations after the
    // pin flips); the count is literal
    "x194_deployment_pinned_stack" ->
      ("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS skew_free, " +
        "TRUE AS latest_clean"),
    // x191 × x194 composed: skew_free is earned BETWEEN the library
    // takedown's two retract commits (the batch serve at the unflipped
    // pin anti-joins empty both ways against the pre-takedown answer,
    // all eight queries at once); latest_clean and all_allowed are
    // counted violations (= 0) after the flip; counts are literal
    "x195_deployed_batch_serve" ->
      ("SELECT CAST(80 AS BIGINT) AS n_results, " +
        "CAST(8 AS BIGINT) AS n_queries, TRUE AS skew_free, " +
        "TRUE AS latest_clean, TRUE AS all_allowed"),
    // rollback_exact (post-rollback serve ≡ pre-takedown answer both
    // ways) and retention_safe (same equality AFTER deployment-derived
    // prunes of both stores) are earned in-plan; the reclaimed-pins
    // rollback refusal is require()d on a scratch store; count literal
    "x196_deployment_rollback" ->
      ("SELECT CAST(10 AS BIGINT) AS n_results, " +
        "TRUE AS rollback_exact, TRUE AS retention_safe"),
    // the follow-mode boundary semantics (one deployment version per
    // batch, the flip exactly between batches, removed ids served
    // pre-flip and gone post-flip) are earned in-plan from the tagged
    // answer rows; counts are literal (2 batches × 4 queries × k=10)
    "x197_deployment_follow_serve" ->
      ("SELECT CAST(80 AS BIGINT) AS n_results, " +
        "CAST(2 AS BIGINT) AS n_batches, TRUE AS no_torn_batch, " +
        "TRUE AS flip_at_boundary, TRUE AS pre_intact, " +
        "TRUE AS latest_clean"),
    // all three reindex claims are EARNED in-plan (pinned re-serve ≡
    // pre-reindex both ways; exhaustive post-reindex serve ≡ brute
    // force; re-tokenized text ≡ one-shot rebuild) and both ledger replays
    // are require()d; the counts are literal
    "x193_reindex_under_serve" ->
      ("SELECT CAST(30 AS BIGINT) AS n_ann_results, " +
        "CAST(10 AS BIGINT) AS n_text_results, TRUE AS pinned_stable, " +
        "TRUE AS ann_matches_exact, TRUE AS text_matches_rebuild"),
    // shape contract like x180 × x183: all_allowed and the per-qid
    // overlap floor vs the exact filtered composition are EARNED
    // in-plan; the counts are literal (8 queries × k=10)
    "x191_filtered_batch_serve" ->
      ("SELECT CAST(80 AS BIGINT) AS n_results, " +
        "CAST(8 AS BIGINT) AS n_queries, TRUE AS all_allowed, " +
        "TRUE AS overlap_ok"),
    // post-retirement store+serve ≡ the DIRECT screen against the one
    // REMAINING benchmark (doc_id % 10 = 1): x147's replay with the
    // retired suite (% 10 = 0) absent — the retract must leave the
    // store indistinguishable from never having ingested it, while
    // shingles shared across suites keep screening (they're bmB's too)
    "x192_benchmark_retirement" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
        |      for i in range(1, len(toks) - 6)])
        |    END AS sh
        |  FROM t),
        |b AS (SELECT DISTINCT unnest(sh) AS sg FROM s WHERE doc_id % 10 = 1),
        |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |h AS (SELECT doc_id, count(*) AS hits FROM e JOIN b USING (sg) GROUP BY doc_id)
        |SELECT s.doc_id, len(s.sh) AS n_shingles,
        |  coalesce(hits, 0) AS contaminated,
        |  (round(CASE WHEN len(s.sh) = 0 THEN 0.0
        |    ELSE coalesce(hits, 0)::DOUBLE / len(s.sh) END, 4) + 0) AS contaminated_frac
        |FROM s LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // both member tables at both bundle versions, replayed from the
    // deterministic splits; version numbers are the commit sequence
    "x173_bundle_commit" ->
      """SELECT CAST(1 AS BIGINT) AS v1, CAST(2 AS BIGINT) AS v2,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_docs_v1,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_orders_v1,
        |  (SELECT count(*) FROM documents) AS n_docs_v2,
        |  (SELECT count(*) FROM orders) AS n_orders_v2""".stripMargin,
    // both versions' counts and the added-row count replay from the same
    // deterministic splits; version numbers are the commit sequence
    "x172_versioned_table" ->
      """SELECT CAST(1 AS BIGINT) AS v1, CAST(2 AS BIGINT) AS v2,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_v1,
        |  (SELECT count(*) FROM documents) AS n_latest,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 <> 0) AS n_added""".stripMargin,
    // the exact O(batch x corpus) truth again (x152's replay): the serve
    // runs off a store every band of which was compacted in-query, so
    // any row the rewrite loses or doubles flips this hash
    "x170_compacted_serve" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
        |    (round(len(list_intersect(n.sh, c.sh))::DOUBLE /
        |      len(list_distinct(list_concat(n.sh, c.sh))), 4) + 0) AS jaccard
        |  FROM s n, s c WHERE n.doc_id % 5 = 4 AND c.doc_id % 5 <> 4)
        |SELECT new_id, corpus_id, jaccard FROM p WHERE jaccard >= 0.9
        |ORDER BY new_id, corpus_id""".stripMargin,
    "x152_stored_lsh_index" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |      (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END)
        |    ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      for i in range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM t),
        |p AS (
        |  SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
        |    (round(len(list_intersect(n.sh, c.sh))::DOUBLE /
        |      len(list_distinct(list_concat(n.sh, c.sh))), 4) + 0) AS jaccard
        |  FROM s n, s c WHERE n.doc_id % 5 = 4 AND c.doc_id % 5 <> 4)
        |SELECT new_id, corpus_id, jaccard FROM p WHERE jaccard >= 0.9
        |ORDER BY new_id, corpus_id""".stripMargin,
    // the single total-order row numbering the engine computes without
    // a single-task window
    "x146_stable_ids" ->
      """SELECT CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT)
        |    AS row_id, doc_id, source
        |FROM documents ORDER BY row_id""".stripMargin,
    // the first-touch chain as nested after-t mins (t2 = min s2 ts
    // STRICTLY after t1 — same strict > as the engine's fold), exact
    // integer-microsecond latencies, quantile_cont interpolation
    "x145_funnel_latency" ->
      """WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN u1 ON u1.user_id = e.user_id AND e.ts > u1.t1
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |u3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN u2 ON u2.user_id = e.user_id AND e.ts > u2.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |l1 AS (SELECT epoch_us(t2) - epoch_us(t1) AS lat
        |  FROM u1 JOIN u2 USING (user_id)),
        |l2 AS (SELECT epoch_us(t3) - epoch_us(t2) AS lat
        |  FROM u2 JOIN u3 USING (user_id)),
        |m AS (
        |  SELECT 'view' AS stage_from, 'click' AS stage_to,
        |    CAST(count(*) AS BIGINT) AS n,
        |    (round(quantile_cont(lat, 0.5), 4) + 0) AS p50_us,
        |    (round(quantile_cont(lat, 0.9), 4) + 0) AS p90_us
        |  FROM l1
        |  UNION ALL
        |  SELECT 'click', 'purchase', CAST(count(*) AS BIGINT),
        |    (round(quantile_cont(lat, 0.5), 4) + 0),
        |    (round(quantile_cont(lat, 0.9), 4) + 0)
        |  FROM l2)
        |SELECT * FROM m ORDER BY stage_from""".stripMargin,
    // same one-pass FD semantics: per-key distinct counts, groups with >1
    "x144_fd_audit" ->
      """WITH g AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_returnflag) AS d_rf,
        |    count(DISTINCT l_linestatus) AS d_ls,
        |    count(DISTINCT l_suppkey) AS d_sk
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT count(*) AS n_groups,
        |    sum(CASE WHEN d_rf > 1 THEN 1 ELSE 0 END) AS v_rf,
        |    sum(CASE WHEN d_ls > 1 THEN 1 ELSE 0 END) AS v_ls,
        |    sum(CASE WHEN d_sk > 1 THEN 1 ELSE 0 END) AS v_sk
        |  FROM g),
        |m AS (
        |  SELECT 'l_orderkey->l_returnflag' AS rule, n_groups, v_rf AS v FROM w
        |  UNION ALL
        |  SELECT 'l_orderkey->l_linestatus', n_groups, v_ls FROM w
        |  UNION ALL
        |  SELECT 'l_orderkey->l_suppkey', n_groups, v_sk FROM w)
        |SELECT rule, CAST(n_groups AS BIGINT) AS n_groups,
        |  CAST(coalesce(v, 0) AS BIGINT) AS n_violating,
        |  (round(coalesce(v, 0)::DOUBLE / n_groups, 6) + 0) AS violation_share,
        |  coalesce(v, 0) = 0 AS pass
        |FROM m ORDER BY rule""".stripMargin,
    // same hour buckets, same exact-integer moment arithmetic, same
    // round-before-threshold
    "x143_rate_anomalies" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS k, sum(n) AS s, sum(n * n) AS ss
        |  FROM c GROUP BY 1)
        |SELECT c.event_type, c.hour, CAST(c.n AS BIGINT) AS n,
        |  CASE WHEN k >= 2
        |      AND (ss::DOUBLE - s::DOUBLE * s::DOUBLE / k) / (k - 1) > 0
        |    THEN (round((c.n - s::DOUBLE / k) /
        |      sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE / k) / (k - 1)), 6) + 0)
        |  END AS z,
        |  CASE WHEN z IS NOT NULL THEN abs(z) >= 2.0 END AS anomaly
        |FROM c JOIN s USING (event_type)
        |ORDER BY event_type, hour""".stripMargin,
    // same (ts, event_id) ordering, exact long counts, round-6 division
    "x135_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS prev_type, event_type AS next_type,
        |    count(*) AS n
        |  FROM e WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
        |  (round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type), 6) + 0) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,
  )
}
