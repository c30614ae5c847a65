package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Catalog

import graft.functions.Num.roundz

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — exact, O(|queries| × n), right
  * whenever the query set broadcasts. Scale path: sign-random-projection
  * LSH buckets (an IVF-style candidate cut) — candidates share a bucket,
  * then exact re-rank; recall is tunable via planes/probes.
  *
  * Vector math runs through the native codegen'd expressions that
  * `graft.GraftExtensions` registers (`vec_dot`, `vec_nearest`,
  * `vec_ranks`) — the one path, no UDFs. A session built without the
  * extension fails at analysis on the unresolved routine. The HOF folds
  * these expressions replace live in test scope as bit-identity oracles.
  * The one driver-side loop is the MMR tail: one action fetches a bounded
  * pool's vectors, and its integer cosines ([[cos4]], Spark's column
  * arithmetic bit for bit) and greedy run on the driver.
  */
object Similarity {

  /** Dot product of two array columns (double) — the native codegen'd
    * expression (graft.functions.VectorExpressions.DotProduct), resolved
    * through the function registry: the session must enable
    * `spark.sql.extensions=graft.GraftExtensions` (`Engine.session` does).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0d)).otherwise(dot(a, b) / d)
  }

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` must be broadcast-small (it is hint-broadcast). The join is
    * a broadcast nested loop — every candidate partition streams once, no
    * shuffle of the corpus; the only shuffle is the per-query top-k
    * (rank window over |queries|×n scored rows). Deterministic tie-break
    * on neighbor id.
    */
  def bruteForceKnn(candidates: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms are per-vector, computed once here — computing them inside the
    // pair-scoring expression would redo each one per candidate pair
    val c = candidates.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("cn", sqrt(dot(col("cvec"), col("cvec"))))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("qn", sqrt(dot(col("qvec"), col("qvec"))))
    val scored = c.crossJoin(broadcast(q))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        when(col("cn") * col("qn") === 0, lit(0.0d))
          .otherwise(dot(col("qvec"), col("cvec")) / (col("cn") * col("qn"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack, Clarke &
    * Büttcher, SIGIR'09, public) of an exact LEXICAL ranking (3-gram
    * Jaccard to the query document) and an exact VECTOR ranking (cosine
    * to the query embedding): `rrf = Σ 1/(rrfK + rank_side)` over the
    * sides that retrieved the doc within their top `poolK`, re-ranked
    * and cut to `k`. The fused exact baseline for the engine's two
    * serving stacks — production fuses the SAME ranks served off the
    * stored text index (BM25) and ANN index; the fusion arithmetic and
    * tie-breaks are identical, only the rank providers change.
    *
    * Scale posture is x8's: queries ≪ corpus, the query side broadcasts,
    * each corpus side streams once; ranks are per-query windows (bounded
    * by the retrieval pools). Both ranks break ties on ascending id, so
    * the fusion is fully deterministic and SQL-replayable.
    */
  def hybridRrf(docs: DataFrame, queryDocs: DataFrame, vecs: DataFrame,
      queryVecs: DataFrame, k: Int, poolK: Int = 50, rrfK: Int = 60,
      shingleSize: Int = 3, docIdCol: String = "doc_id",
      textCol: String = "text", vecIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && poolK >= k && rrfK >= 1,
      s"hybridRrf: k=$k poolK=$poolK rrfK=$rrfK")
    val cs = Dedup.shingled(docs, docIdCol, textCol, shingleSize)
      .select(col(docIdCol).as("nid"), col("sh").as("csh"))
    val qs = Dedup.shingled(queryDocs, docIdCol, textCol, shingleSize)
      .select(col(docIdCol).as("qid"), col("sh").as("qsh"))
    val lw = Window.partitionBy(col("qid")).orderBy(col("jac").desc, col("nid"))
    val lex = cs.crossJoin(broadcast(qs))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        Dedup.jaccard(col("qsh"), col("csh")).as("jac"))
      .withColumn("lrank", row_number().over(lw))
      .where(col("lrank") <= poolK)
      .select(col("qid"), col("nid"), col("lrank"))
    val vec = bruteForceKnn(vecs, queryVecs, poolK, vecIdCol, vecCol)
      .select(col("qid"), col("nid"), col("rank").as("vrank"))
    rrfFuseBatch(lex, vec, k, rrfK)
  }

  /** Per-query reciprocal-rank fusion: `lex` (qid, nid, lrank) and `vec`
    * (qid, nid, vrank), each id at most once per side and qid. Every
    * candidate scores `1/(rrfK + rank)` for each side that retrieved it,
    * and each qid keeps its top k, ties on ascending id. The two rank
    * lists meet in ONE aggregate per qid (a map per side, zipped on the
    * id, sorted, cut at k): a query's rows are at most two retrieval pools
    * (≤ 2·poolK), never corpus-sized, and the fused rows stay partitioned
    * by qid for the MMR stage's per-qid pools. A join on (qid, nid) and a
    * qid window would shuffle three times; here one shuffle serves a
    * batch, and a single query adds no stage to its plan. The one fusion
    * implementation: [[hybridRrf]] (the exact baseline) and every stored
    * serve ([[composedServe]], where a single query is qid 0) run it, so
    * fusion arithmetic cannot drift between them.
    */
  def rrfFuseBatch(lex: DataFrame, vec: DataFrame, k: Int,
      rrfK: Int = 60): DataFrame = {
    require(k >= 1 && rrfK >= 1, s"rrfFuseBatch: k=$k rrfK=$rrfK")
    def side(isLex: Boolean): Column = map_from_entries(collect_list(
      when(col("lex") === isLex, struct(col("nid"), col("r")))))
    def score(rank: Column): Column =
      coalesce(lit(1.0) / (lit(rrfK) + rank), lit(0.0))
    // (−rrf, nid) structs sort ascending as (rrf desc, nid asc)
    val top = slice(sort_array(transform(map_entries(map_zip_with(
        side(isLex = true), side(isLex = false),
        (_, l, v) => score(l) + score(v))),
      e => struct((-e("value")).as("neg"), e("key").as("nid")))), 1, k)
    lex.select(col("qid"), col("nid"), col("lrank").as("r"), lit(true).as("lex"))
      .unionByName(vec.select(col("qid"), col("nid"), col("vrank").as("r"),
        lit(false).as("lex")))
      .groupBy(col("qid"))
      .agg(top.as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.nid").as("nid"), (-col("col.neg")).as("rrf"),
        (col("pos") + 1).as("rank"))
  }

  /** Hybrid retrieval served off both STORED indexes — the production
    * serving path [[hybridRrf]] is the exact baseline for: one user
    * query arrives as a term list plus its embedding, the lexical ranks
    * come from BM25 over the stored text index
    * ([[graft.operators.TextIndex.bm25SearchBundle]] — postings scan
    * pruned to the query terms' shards), the vector ranks from the
    * stored ANN index ([[graft.operators.AnnIndex.knnBundle]] — codes
    * scan pruned to the probed cells), and [[rrfFuseBatch]] fuses the
    * two pools at qid 0: the first half of [[composedServe]], which the
    * batched serve runs too. Nothing here touches corpus text or trains
    * anything: both expensive passes happened once at index-build time,
    * and the serve reads two pruned stores plus the bounded
    * meta/quantizer tables. Single-query contract: `queryVec` is one
    * vector (its id only excludes itself from the vector pool). Returns
    * (nid, rrf, rank), unmaterialized.
    *
    * `within` (one id column, any name) is the production metadata
    * filter, applied as a candidate restriction on BOTH retrieval sides
    * before their top-k (global BM25 statistics, per
    * [[graft.operators.TextIndex.bm25SearchBundle]]); the fused result
    * can then only contain allowed ids. Each index resolves at ONE
    * committed manifest version (resolved once, threaded through every
    * member read; see [[threeStageServeBundle]] for the pinning
    * contract).
    */
  def hybridStoredServeBundle(spark: org.apache.spark.sql.SparkSession,
      textRoot: String, textName: String, annRoot: String, annName: String,
      vecs: DataFrame, queryTerms: Seq[String], queryVec: DataFrame, k: Int,
      poolK: Int = 50, rrfK: Int = 60, rerank: Int = 150,
      nProbe: Int = 6, within: Option[DataFrame] = None,
      textVersion: Option[Long] = None,
      annVersion: Option[Long] = None): DataFrame = {
    require(poolK >= k, s"hybridStoredServeBundle: poolK=$poolK < k=$k")
    composedServe(spark, "hybridStoredServeBundle", textRoot, textName,
        annRoot, annName, vecs,
        lexAtQid0(spark, textRoot, textName, queryTerms, poolK, within),
        queryVec, lit(0L), None, k, poolK, rrfK, rerank, nProbe, within,
        None, textVersion, annVersion)
      .select(col("nid"), col("rrf"), col("rank"))
  }

  /** Maximal-marginal-relevance diversified re-rank (Carbonell &
    * Goldstein, SIGIR'98, public) of one query's candidate shortlist —
    * the serving stack's third stage after retrieval (x8/x95) and fusion
    * (x161/x165): greedily select k of the top-`poolK` candidates, each
    * step taking the argmax of `relevance − max similarity to an
    * already-selected result`. λ is fixed at 0.5, whose common factor
    * cancels in the argmax, so the step score is the INTEGER
    * `qsim4 − max psim4` over cosines rounded and scaled to ×10⁴ longs
    * ([[cos4]]) — fully engine-replayable, ties on ascending id (rank-1
    * scores pure relevance: no selected set yet).
    *
    * Scale posture: the distributed work is the shortlist retrieval
    * (bruteForceKnn — swap in the stored-index serve at scale) and the
    * fetch of the shortlist's own vectors; the cosines and the greedy run
    * driver-side over the FETCHED pool, bounded by construction at
    * poolK(≤256) vectors and poolK² integer cosines — the query's own
    * shortlist; corpus size never enters. Output: (rank, nid, mmr4) —
    * mmr4 the integer score at selection time.
    */
  def mmrRerank(vecs: DataFrame, queryVec: DataFrame, k: Int,
      poolK: Int = 30): DataFrame = {
    require(k >= 1 && poolK >= k && poolK <= 256,
      s"mmrRerank: k=$k poolK=$poolK out of range")
    mmrRerankPool(vecs, queryVec,
      bruteForceKnn(vecs, queryVec, poolK).select(col("nid")), k)
  }

  /** The MMR stage over ONE query's EXPLICIT candidate pool: `pool` (one
    * `nid` column, ≤ 256 candidates) and `queryVec` (one row) run
    * [[mmrRerankPoolBatch]] as its qid-0 batch, so the checks, the fetch
    * and the greedy are the batch's. Returns (rank, nid, mmr4).
    */
  def mmrRerankPool(vecs: DataFrame, queryVec: DataFrame, pool: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    mmrRerankPoolBatch(vecs, queryVec.select(lit(0L).as(idCol), col(vecCol)),
        pool.select(lit(0L).as("qid"), col("nid")), k, idCol, vecCol)
      .select(col("rank"), col("nid"), col("mmr4"))

  /** ×10⁴-rounded integer cosine of `a` and `b` given their norms — the
    * one formula behind every MMR score (relevance qsim4 and pairwise
    * psim4), and exactly Spark's column arithmetic for
    * `round(when(na·nb = 0, 0.0).otherwise(vec_dot(a, b) / (na·nb)) × 1e4,
    * 0).cast(long)`: the same left-to-right dot sum over the shorter
    * length, 0.0 for a zero denominator, `round` half-up on the double's
    * decimal value (`BigDecimal.valueOf`, as Spark's `round` does), then
    * the long. A NaN or infinite score fails, as the ANSI cast does.
    * SimilaritySpec pins it against the Spark columns.
    */
  private def cos4(a: Array[Double], b: Array[Double],
      na: Double, nb: Double): Long = {
    val den = na * nb
    val s = (if (den == 0) 0.0 else dotD(a, b) / den) * 1e4
    require(!s.isNaN && !s.isInfinite, s"cos4: score $s has no long value")
    java.math.BigDecimal.valueOf(s)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
  }

  /** `vec_dot` on the driver: left to right over the shorter length. */
  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** `sqrt(vec_dot(a, a))` on the driver. */
  private def normD(a: Array[Double]): Double = math.sqrt(dotD(a, a))

  /** One pool's MMR scores: the relevance qsim4 of every id to the query
    * `q`, and the psim4 of every ordered pair of distinct ids (each
    * unordered pair scored once: the formula is symmetric bit for bit).
    */
  private[graft] def mmrScores(q: Array[Double], ids: Seq[Long],
      vectors: Map[Long, Array[Double]]): (Map[Long, Long], Map[(Long, Long), Long]) = {
    val norms = ids.map(id => id -> normD(vectors(id))).toMap
    val qn = normD(q)
    val qsim = ids.map(id => id -> cos4(q, vectors(id), qn, norms(id))).toMap
    val psim = ids.indices.flatMap { i =>
      (i + 1 until ids.size).flatMap { j =>
        val (a, b) = (ids(i), ids(j))
        val s = cos4(vectors(a), vectors(b), norms(a), norms(b))
        Seq((a, b) -> s, (b, a) -> s)
      }
    }.toMap
    (qsim, psim)
  }

  /** What the MMR stage's one action brings back: each qid's pool ids,
    * the vector of every pool id that resolved, and the query rows.
    */
  private[graft] case class MmrFetch(pools: Map[Long, Seq[Long]],
      vectors: Map[Long, Array[Double]], queries: Seq[(Long, Array[Double])])

  /** The MMR stage's ONE action, the one fetch path. `pool` is (qid, nid)
    * per-query shortlists, folded by one groupBy(qid) and one global
    * aggregate into a single row: `p` (array of (qid, ids) structs), `mx`
    * (the largest pool) and `pr` (Σ pool²); `queries` is (qid, `vecCol`).
    * That row's keys — (0, nid) per distinct pool id, (1, qid) per pool,
    * and (2, 0) carrying `p` — are the broadcast build side of a hash join
    * that the vector table, the query rows and one marker row stream past
    * as ONE tagged union: a streamed row costs one hash probe whatever the
    * number of queries, the pool plan is referenced once (so the
    * retrieval behind it is planned and run once, inside this job, with
    * nothing persisted), and the pool ids come back on the marker row even
    * when none resolves. Pools over the 256-candidate or the pair-row
    * bound emit no (0, nid) keys, so no vector is fetched for them. The
    * join key is the id alone: a single long key keeps the broadcast
    * relation as small as its rows (a two-column key builds a map of one
    * memory page), and the few rows whose id matches a key of another
    * kind (a query's own vector id is its qid) are dropped here.
    */
  private[graft] def mmrFetch(vecs: DataFrame, queries: DataFrame,
      pool: DataFrame, idCol: String, vecCol: String): MmrFetch = {
    val n = size(col("ids"))
    val pools = pool
      .groupBy(col("qid").cast("long").as("qid"))
      .agg(collect_set(col("nid").cast("long")).as("ids"))
      .agg(collect_list(struct(col("qid"), col("ids"))).as("p"),
        max(n).as("mx"), sum(n.cast("long") * n).as("pr"))
    def tagged(kind: Int): Column => Column =
      key => struct(lit(kind).as("kind"), key.as("key"))
    val fetchable = col("mx") <= 256 && col("pr") <= MaxBatchGreedyPairRows
    val keys = pools.select(col("p"), explode(concat(
        transform(when(fetchable, array_distinct(flatten(col("p.ids"))))
          .otherwise(typedLit(Seq.empty[Long])), tagged(0)),
        transform(col("p.qid"), tagged(1)),
        array(tagged(2)(lit(0L))))).as("b"))
      .select(col("b.kind").as("bkind"), col("b.key").as("bkey"),
        when(col("b.kind") === 2, col("p")).as("p"))
    val stream = vecs
      .select(lit(0).as("kind"), col(idCol).cast("long").as("key"),
        col(vecCol).as("v"))
      .unionByName(queries.select(lit(1).as("kind"),
        col("qid").cast("long").as("key"), col(vecCol).as("v")))
      .unionByName(vecs.sparkSession.range(0, 1, 1, 1).select(lit(2).as("kind"),
        lit(0L).as("key"), lit(null).cast(vecs.schema(vecCol).dataType).as("v")))
    val rows = stream.join(broadcast(keys), col("key") === col("bkey"))
      .select(col("kind"), col("bkind"), col("key"), col("v"), col("p"))
      .collect().filter(r => r.getInt(0) == r.getInt(1))
    def vec(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Any](3).map(_.asInstanceOf[Number].doubleValue).toArray
    MmrFetch(
      rows.filter(_.getInt(0) == 2).flatMap(_.getSeq[org.apache.spark.sql.Row](4))
        .map(p => p.getLong(0) -> p.getSeq[Long](1)).toMap,
      rows.filter(_.getInt(0) == 0).map(r => r.getLong(2) -> vec(r)).toMap,
      rows.filter(_.getInt(0) == 1).map(r => r.getLong(2) -> vec(r)).toSeq)
  }

  /** The driver half of the MMR stage: every loud check, then per qid the
    * integer cosines ([[mmrScores]]) and the greedy ([[mmrGreedy]]). A qid
    * whose pool is empty selects nothing, so an empty pool answers 0 rows.
    * Returns (qid, rank, nid, mmr4), qids ascending.
    */
  private def mmrSelect(f: MmrFetch, k: Int,
      idCol: String): Seq[(Long, Int, Long, Long)] = {
    val who = "mmrRerankPoolBatch"
    val sizes = f.pools.values.map(_.size.toLong)
    val mx = if (sizes.isEmpty) 0L else sizes.max
    require(mx <= 256, s"$who: a per-query pool exceeds the 256-candidate " +
      s"driver-greedy bound (max $mx)")
    val pairRows = sizes.map(n => n * n).sum
    require(pairRows <= MaxBatchGreedyPairRows,
      s"$who: ${f.pools.size} pools collect $pairRows pair " +
        s"rows > $MaxBatchGreedyPairRows — split the query batch")
    // every pool id must resolve to a vector: a doc-id/vec-id space
    // mismatch between the retrieval stage and the vector table would
    // otherwise silently shrink the result below k with no signal
    val nPool = sizes.sum
    val nResolved = f.pools.values.map(_.count(f.vectors.contains).toLong).sum
    require(nResolved == nPool, s"$who: ${nPool - nResolved} of $nPool " +
      s"pool ids have no '$idCol' row in the vector table — id-space " +
      "mismatch between the retrieval stage and the vectors")
    // a pool whose qid has no query row would otherwise silently return
    // ZERO rows for that query
    val posed = f.pools.filter(_._2.nonEmpty)
    val queries = f.queries.groupBy(_._1)
    val missing = posed.keySet -- queries.keySet
    require(missing.isEmpty, s"$who: qids $missing have a pool but no " +
      s"'$idCol' row in the query-vector table — qid mismatch between the " +
      "retrieval stage and queryVecs")
    val dup = queries.filter(_._2.size > 1).keySet
    require(dup.isEmpty, s"$who: qids $dup have more than one query-vector row")
    posed.keys.toSeq.sorted.flatMap { qid =>
      val (qsim, psim) = mmrScores(queries(qid).head._2, posed(qid), f.vectors)
      mmrGreedy(qsim, psim, k).map { case (rank, nid, mmr4) => (qid, rank, nid, mmr4) }
    }
  }

  /** The λ=0.5 integer MMR greedy over ONE query's scored pool, which
    * [[mmrRerankPoolBatch]] runs per qid (a single query is its qid-0
    * batch, so single and batched serves select identically by
    * construction). Ties break (score desc, id asc); rank 1 is pure
    * relevance.
    */
  private def mmrGreedy(cand: Map[Long, Long],
      psim: Map[(Long, Long), Long], k: Int): Seq[(Int, Long, Long)] = {
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ cand.keys
    for (rank <- 1 to math.min(k, cand.size)) {
      val best = remaining.map { nid =>
        val penalty = if (selected.isEmpty) 0L
          else selected.map { case (_, s, _) => psim((nid, s)) }.max
        (nid, cand(nid) - (if (selected.isEmpty) 0L else penalty))
      }.minBy { case (nid, s) => (-s, nid) } // score desc, id asc
      selected += ((rank, best._1, best._2))
      remaining -= best._1
    }
    selected.toSeq
  }

  /** Hard ceiling on the pair cosines the batched greedy may score:
    * Σ_q pool_q² must fit the driver comfortably — 2²⁰ (id, id, long)
    * entries ≈ 24 MB. At fuseK=30 that admits ~1100 queries per plan; at
    * the 256-candidate single-query bound, 16. Callers batching more
    * split the query set — an explicit cap, not a silent truncation.
    */
  val MaxBatchGreedyPairRows: Long = 1L << 20

  /** The MMR stage, ONE implementation for N queries in one plan: `pool`
    * is (qid, nid) per-query shortlists (a retrieval shortlist, never the
    * corpus), `queryVecs` the matching query vectors (qid = their
    * `idCol`), and the greedy runs per qid over the fetched pools — the
    * same [[mmrFetch]] action, [[cos4]] scores and [[mmrGreedy]] whether
    * the batch holds one query ([[mmrRerankPool]], [[threeStageServeBundle]])
    * or many, so batching is a throughput decision, never a semantics one.
    * Relevance is recomputed on the driver as the ×10⁴-rounded integer
    * cosine of each pool member to its query (bit-identical to
    * [[bruteForceKnn]]'s scoring expression, so pool-from-knn replays
    * exactly). The one action fetches Σ pool_q vectors, capped by the
    * per-query 256-candidate bound and [[MaxBatchGreedyPairRows]] before
    * any vector is fetched or any pair scored. Every (qid, nid) must
    * resolve to a vector row (a silent drop would return fewer than k with
    * no signal) and every pooled qid to one query row — loud failures. A
    * qid with an empty pool, or none at all, answers 0 rows. Returns
    * (qid, rank, nid, mmr4).
    */
  def mmrRerankPoolBatch(vecs: DataFrame, queryVecs: DataFrame,
      pool: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"mmrRerankPoolBatch: k=$k")
    val rows = mmrSelect(
      mmrFetch(vecs, queryVecs.select(col(idCol).as("qid"), col(vecCol)),
        pool, idCol, vecCol), k, idCol)
    import vecs.sparkSession.implicits._
    rows.toDF("qid", "rank", "nid", "mmr4")
  }

  /** One query's BM25 pool as the qid-0 lexical side of [[composedServe]].
    * It keeps [[graft.operators.TextIndex.bm25SearchBundle]]'s
    * distributed TakeOrdered: the batch BM25's qid window would sort the
    * query's whole candidate set in one task.
    */
  private def lexAtQid0(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, terms: Seq[String], poolK: Int,
      within: Option[DataFrame]): Long => DataFrame = tv =>
    TextIndex.bm25SearchBundle(spark, root, name, terms, k = poolK,
        within = within, version = Some(tv))
      .select(lit(0L).as("qid"), col("doc_id").as("nid"),
        col("rank").cast("int").as("lrank"))

  /** The composed serve, written once over qid-keyed inputs: `lex` gives
    * the BM25 pool (qid, nid, lrank) at the resolved text version, the
    * stored ANN serve answers `annQueries` and labels its pool with `qid`,
    * [[rrfFuseBatch]] fuses per qid and cuts at `fuseK`, and `mmr` (the
    * MMR stage's query rows with their qid as `vec_id`, and its k) runs
    * [[mmrRerankPoolBatch]] over the fused pools; without it the serve
    * returns the fused (qid, nid, rrf, rank). Each index's version
    * resolves once here and threads through every member read. A single
    * query is qid 0, but its ANN side serves under the vector's own id:
    * the ANN serve drops a candidate equal to its qid (the query's
    * self-match), so relabelling first would drop vector 0 instead.
    */
  private def composedServe(spark: org.apache.spark.sql.SparkSession,
      who: String, textRoot: String, textName: String, annRoot: String,
      annName: String, vecs: DataFrame, lex: Long => DataFrame,
      annQueries: DataFrame, qid: Column, mmr: Option[(DataFrame, Int)],
      fuseK: Int, poolK: Int, rrfK: Int, rerank: Int, nProbe: Int,
      within: Option[DataFrame], withinPairs: Option[DataFrame],
      textVersion: Option[Long], annVersion: Option[Long]): DataFrame = {
    val tv = Catalog.resolveVersion(spark, textRoot, textName, textVersion, who)
    val av = Catalog.resolveVersion(spark, annRoot, annName, annVersion, who)
    val lexPool = lex(tv)
    // materialize = false: the MMR stage collects the fused pool within
    // this same call, and the fused list alone is as lazy as its BM25
    // side, so the ANN serve's eager persist+count would be one extra
    // action for a frame consumed once
    val vec = AnnIndex.knnBundle(spark, annRoot, annName, vecs, annQueries,
        k = poolK, rerank = rerank, nProbe = nProbe, within = within,
        version = Some(av), withinPairs = withinPairs, materialize = false)
      .select(qid.as("qid"), col("nid"), col("rank").as("vrank"))
    val fused = rrfFuseBatch(lexPool, vec, fuseK, rrfK)
    mmr.fold(fused) { case (queries, k) =>
      mmrRerankPoolBatch(vecs, queries, fused.select(col("qid"), col("nid")), k)
    }
  }

  /** [[threeStageServeBundle]] generalized to N queries in ONE plan —
    * the offline-eval / bulk-serving shape: each query arrives as (qid,
    * terms) plus its vector row, batched BM25 prunes the postings scan
    * ONCE to the union of the queries' term shards
    * ([[graft.operators.TextIndex.bm25SearchBatchBundle]]), the stored
    * ANN serve carries qid natively
    * ([[graft.operators.AnnIndex.knnBundle]]), and fusion and MMR are
    * [[composedServe]]'s per-qid stages (the greedy bounded at Σ fuseK²
    * pair cosines with an explicit cap). Per-query results are EXACTLY
    * the single-query [[threeStageServeBundle]]'s (the same stages end to
    * end; only the BM25 core differs, with the same arithmetic). Each
    * index resolves at ONE committed manifest version (see
    * [[threeStageServeBundle]] for the pinning contract). Returns (qid,
    * rank, nid, mmr4); a query whose fused pool is empty returns no rows.
    *
    * Filtering: `within` is one allowed-id set shared by every query;
    * `withinPairs` is PER-QUERY eligibility as (qid, id) rows — the
    * per-request ACL shape of a bulk serving tier (both may be set; a
    * candidate must pass both). Per-qid semantics equal the single
    * serve with that query's own allowed set (SimilaritySpec pins it).
    */
  def threeStageServeBatchBundle(spark: org.apache.spark.sql.SparkSession,
      textRoot: String, textName: String, annRoot: String, annName: String,
      vecs: DataFrame, queryTerms: Seq[(Long, Seq[String])],
      queryVecs: DataFrame, k: Int,
      fuseK: Int = 30, poolK: Int = 50, rrfK: Int = 60, rerank: Int = 150,
      nProbe: Int = 6, within: Option[DataFrame] = None,
      textVersion: Option[Long] = None,
      annVersion: Option[Long] = None,
      withinPairs: Option[DataFrame] = None): DataFrame = {
    require(fuseK >= k && fuseK <= 256,
      s"threeStageServeBatchBundle: fuseK=$fuseK out of range for k=$k")
    // per-query pools are cut at fuseK (<= 256, required above); the batch
    // width is capped here, before planning
    require(queryTerms.size.toLong * fuseK * fuseK <= MaxBatchGreedyPairRows,
      s"threeStageServeBatchBundle: ${queryTerms.size} queries at " +
        s"fuseK=$fuseK exceed $MaxBatchGreedyPairRows greedy pair rows - " +
        "split the batch")
    composedServe(spark, "threeStageServeBatchBundle", textRoot, textName,
      annRoot, annName, vecs,
      tv => TextIndex.bm25SearchBatchBundle(spark, textRoot, textName,
          queryTerms, k = poolK, within = within, version = Some(tv),
          withinPairs = withinPairs)
        .select(col("qid"), col("doc_id").as("nid"),
          col("rank").cast("int").as("lrank")),
      queryVecs, col("qid"), Some(queryVecs -> k), fuseK, poolK, rrfK,
      rerank, nProbe, within, withinPairs, textVersion, annVersion)
  }

  /** The COMPOSED three-stage serving stack — the query a production
    * search deployment actually runs, as one operator: (1) retrieval
    * off both STORED indexes ([[TextIndex.bm25SearchBundle]] postings
    * pruned to the query terms' shards, [[AnnIndex.knnBundle]] codes
    * pruned to the probed cells), (2) reciprocal-rank fusion of the two
    * pools ([[rrfFuseBatch]] — the same arithmetic as the exact
    * baseline), (3) maximal-marginal-relevance diversification of the
    * fused shortlist ([[mmrRerankPoolBatch]] — the greedy bounded at
    * `fuseK`² driver-side cosines). Stages (2) and (3) are the batched
    * serve's ([[composedServe]]) run at qid 0. Nothing in the
    * composition touches corpus text or trains: both expensive passes
    * happened once at index build, every serve-time scan is
    * directory-pruned and sees one committed manifest version of each
    * index (never a half-rebuilt one), and the only corpus-sized frame
    * (`vecs`) is read solely to fetch the shortlist's own vectors
    * through a broadcast hash join, in the same action that runs the
    * retrieval. The MMR pool is the fused shortlist, which is already
    * filtered when `within` is set — the greedy never reintroduces
    * candidates; an empty fused pool returns no rows. Returns (rank,
    * nid, mmr4).
    *
    * ALIGNMENT CONTRACT: the text index must index a subset of the
    * embedded corpus (build it over the docs that have vector rows) —
    * the MMR stage needs every fused candidate's vector, and a fused
    * id with no `vecs` row fails loudly ([[mmrRerankPoolBatch]]'s
    * resolution check) rather than silently shrinking the pool below
    * fuseK. Alignment is a BUILD-time property (one ingest-side
    * semi-join), deliberately not re-checked with a serve-time join
    * against the corpus-sized vector id set.
    *
    * VERSION PINNING: each index's version resolves ONCE here (to
    * latest when not passed) and threads through every member read of
    * its serve — a retrain, append, compaction or takedown committing
    * WHILE this serve runs cannot tear the answer across versions; the
    * serve returns exactly one committed version's result per index
    * (SimilaritySpec pins serving under concurrent maintenance). Pass
    * `textVersion`/`annVersion` for explicit time-travel serving.
    */
  def threeStageServeBundle(spark: org.apache.spark.sql.SparkSession,
      textRoot: String, textName: String, annRoot: String, annName: String,
      vecs: DataFrame, queryTerms: Seq[String], queryVec: DataFrame, k: Int,
      fuseK: Int = 30, poolK: Int = 50, rrfK: Int = 60, rerank: Int = 150,
      nProbe: Int = 6, within: Option[DataFrame] = None,
      textVersion: Option[Long] = None,
      annVersion: Option[Long] = None): DataFrame = {
    require(fuseK >= k && fuseK <= 256,
      s"threeStageServeBundle: fuseK=$fuseK out of range for k=$k")
    composedServe(spark, "threeStageServeBundle", textRoot, textName,
        annRoot, annName, vecs,
        lexAtQid0(spark, textRoot, textName, queryTerms, poolK, within),
        queryVec, lit(0L),
        Some(queryVec.select(lit(0L).as("vec_id"), col("embedding")) -> k),
        fuseK, poolK, rrfK, rerank, nProbe, within, None, textVersion,
        annVersion)
      .select(col("rank"), col("nid"), col("mmr4"))
  }

  /** The pin set of deployment `depName` as a lookup of each bundle's
    * pinned version — a deployed serve's ONE mutable read. An artifact
    * the deployment does not pin fails loudly.
    */
  private def deploymentPins(spark: org.apache.spark.sql.SparkSession,
      depRoot: String, depName: String, deploymentVersion: Option[Long],
      who: String): String => Option[Long] = {
    val pins = Catalog.readDeployment(spark, depRoot, depName,
      deploymentVersion)
    art => Some(pins.getOrElse(art,
      sys.error(s"$who: deployment '$depName' has no pin for artifact " +
        s"'$art' (pins: ${pins.keys.toSeq.sorted})")))
  }

  /** [[threeStageServeBundle]] with BOTH index versions resolved
    * through ONE committed deployment pin
    * ([[graft.sources.Catalog.readDeployment]]) — the serve a
    * production stack runs once maintenance spans several stores:
    * per-bundle pinning (x190) guarantees each index answers one
    * committed version, but a takedown hitting the text AND the ANN
    * store is two commits, and a serve resolving each store's latest
    * independently between them sees cross-store SKEW (the removed ids
    * gone from one retrieval side, still served by the other). Here
    * the ONLY mutable read is the deployment table's latest version —
    * everything downstream is pinned by the pin set — so maintenance
    * that retracts every store first and flips the deployment LAST is
    * atomic for the whole stack. `pins` keys are the bundle names
    * (`textName`, `annName`); `deploymentVersion` time-travels the
    * deployment itself.
    */
  def threeStageServeDeployed(spark: org.apache.spark.sql.SparkSession,
      depRoot: String, depName: String,
      textRoot: String, textName: String, annRoot: String, annName: String,
      vecs: DataFrame, queryTerms: Seq[String], queryVec: DataFrame, k: Int,
      fuseK: Int = 30, poolK: Int = 50, rrfK: Int = 60, rerank: Int = 150,
      nProbe: Int = 6, within: Option[DataFrame] = None,
      deploymentVersion: Option[Long] = None): DataFrame = {
    val pin = deploymentPins(spark, depRoot, depName, deploymentVersion,
      "threeStageServeDeployed")
    threeStageServeBundle(spark, textRoot, textName, annRoot, annName,
      vecs, queryTerms, queryVec, k, fuseK, poolK, rrfK, rerank, nProbe,
      within, pin(textName), pin(annName))
  }

  /** [[threeStageServeBatchBundle]] with both index versions resolved
    * through ONE committed deployment pin — the bulk shape of
    * [[threeStageServeDeployed]]: a production evaluation runs its
    * query batches against the SAME deployment a single-query serve
    * answers from, and a batch that resolved each store's latest
    * independently would re-open, across N queries at once, the exact
    * mid-maintenance skew window x194 closed for one. The pin set is
    * read once (the only mutable read) and threaded as
    * `textVersion`/`annVersion` through every member read of both
    * stores; filters (`within`/`withinPairs`) and per-query semantics
    * are exactly [[threeStageServeBatchBundle]]'s.
    */
  def threeStageServeBatchDeployed(spark: org.apache.spark.sql.SparkSession,
      depRoot: String, depName: String,
      textRoot: String, textName: String, annRoot: String, annName: String,
      vecs: DataFrame, queryTerms: Seq[(Long, Seq[String])],
      queryVecs: DataFrame, k: Int,
      fuseK: Int = 30, poolK: Int = 50, rrfK: Int = 60, rerank: Int = 150,
      nProbe: Int = 6, within: Option[DataFrame] = None,
      withinPairs: Option[DataFrame] = None,
      deploymentVersion: Option[Long] = None): DataFrame = {
    val pin = deploymentPins(spark, depRoot, depName, deploymentVersion,
      "threeStageServeBatchDeployed")
    threeStageServeBatchBundle(spark, textRoot, textName, annRoot, annName,
      vecs, queryTerms, queryVecs, k, fuseK, poolK, rrfK, rerank, nProbe,
      within, pin(textName), pin(annName), withinPairs)
  }

  /** Take a document set down from a DEPLOYED text+ANN serving stack —
    * [[graft.sources.Catalog.takedownStack]] instantiated for the
    * three-stage stack's two stores: retract `removed` from the text
    * index and the ANN index (each an atomic per-bundle commit,
    * ledger preserved), then flip the deployment pin LAST. Refuses a
    * deployment pinning anything besides exactly these two artifacts
    * (a partial takedown must not flip), and a failure in either
    * retraction leaves the pin — and every serve resolving it — on the
    * pre-takedown versions (CatalogSpec pins the crash story). Returns
    * the new pin set. `removed`: one id column (doc ids = vector ids
    * under the stack's alignment contract).
    */
  def takedownServingStack(spark: org.apache.spark.sql.SparkSession,
      root: String, deployment: String, textName: String, annName: String,
      removed: DataFrame): Map[String, Long] = {
    require(textName != annName,
      s"takedownServingStack: text and ANN bundles must differ, got '$textName'")
    Catalog.takedownStack(spark, root, deployment, Map(
      textName -> ((_: Long) =>
        TextIndex.retractBundle(spark, root, textName, removed)),
      annName -> ((_: Long) =>
        AnnIndex.retractBundle(spark, root, annName, removed))))
  }

  /** Exact cosine re-rank of a candidate shortlist: `pairs` (qid, nid)
    * joins back to the raw vectors and only those |queries| × shortlist
    * rows are scored exactly — the second stage of every
    * approximate-then-exact ANN scheme (ADC or IVF shortlist → exact
    * top-k). The candidate join is an equi-join on id (hash, prunable);
    * queries broadcast.
    */
  def rerankExact(pairs: DataFrame, candidates: DataFrame, queries: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = candidates.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("cn", sqrt(dot(col("cvec"), col("cvec"))))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("qn", sqrt(dot(col("qvec"), col("qvec"))))
    val scored = pairs.select(col("qid"), col("nid"))
      .join(c, Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nid"),
        when(col("cn") * col("qn") === 0, lit(0.0d))
          .otherwise(dot(col("qvec"), col("cvec")) / (col("cn") * col("qn"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Deterministic Rademacher (±1) hyperplanes for sign-random-projection
    * LSH, seeded — the same plane set on every executor and every run.
    */
  def hyperplanes(dims: Int, planes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dims)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Embedding width read from the data — one `LIMIT 1` job over the first
    * non-null vector. Used when the caller doesn't pass `dims` explicitly;
    * hyperplane width silently mismatching the data would hash every
    * vector onto a truncated prefix.
    */
  def vecDims(df: DataFrame, vecCol: String): Int = {
    val rows = df.select(size(col(vecCol)).as("d")).where(col("d") > 0)
      .limit(1).collect()
    require(rows.nonEmpty,
      s"vecDims: no non-empty '$vecCol' arrays to derive the embedding width from")
    rows.head.getInt(0)
  }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `outDims` dimensions via the seeded Rademacher (±1) matrix, scaled by
    * 1/√outDims — pairwise Euclidean geometry is preserved within ε w.h.p.
    * The cheap dimensionality cut before storing or brute-forcing over a
    * 100 TB vector corpus (4× fewer dims ⇒ 4× less I/O and FLOPs in every
    * downstream distance).
    *
    * The matrix is outDims × dims literals broadcast inside the plan; the
    * projection is a narrow map of outDims dot products per row — no
    * shuffle, whole-stage codegen'd through `vec_dot`.
    */
  def randomProject(df: DataFrame, outDims: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      as: String = "proj"): DataFrame = {
    require(outDims > 0, s"outDims=$outDims must be positive")
    val dims = vecDims(df, vecCol)
    val planes = hyperplanes(dims, outDims, seed)
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val v = asDouble(col(vecCol))
    df.withColumn(as,
      array(planes.map(p => dot(v, typedLit(p)) * scale): _*))
  }

  /** LSH bucket id: one sign bit per hyperplane packed into a long. Vectors
    * with high cosine similarity agree on most sign bits, so they land in
    * the same bucket with probability (1 - θ/π)^planes.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Approximate top-k: candidates restricted to the query's LSH bucket,
    * then exact cosine re-rank. One hash-partition shuffle on bucket id
    * instead of a full cross join — the 100 TB path. Fewer planes → bigger
    * buckets → higher recall and cost.
    */
  def lshKnn(candidates: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): DataFrame =
    lshKnnDims(candidates, queries, k, vecDims(candidates, vecCol), numPlanes,
      idCol, vecCol, seed)

  def lshKnnDims(candidates: DataFrame, queries: DataFrame, k: Int, dims: Int,
      numPlanes: Int, idCol: String, vecCol: String, seed: Long): DataFrame = {
    val planes = hyperplanes(dims, numPlanes, seed)
    val c = candidates.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("bucket", lshBucket(col("cvec"), planes))
      .withColumn("cn", sqrt(dot(col("cvec"), col("cvec"))))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("bucket", lshBucket(col("qvec"), planes))
      .withColumn("qn", sqrt(dot(col("qvec"), col("qvec"))))
    val scored = c.join(q, Seq("bucket"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        when(col("cn") * col("qn") === 0, lit(0.0d))
          .otherwise(dot(col("qvec"), col("cvec")) / (col("cn") * col("qn"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Spherical k-means centroids over an embedding column, trained with
    * Lloyd iterations — the trained coarse quantizer for `ivfKnn` (cosine
    * geometry: centroids are unit-normalized every round, assignment is
    * max inner product = max cosine).
    *
    * Scale shape per iteration: centroids broadcast as literals into ONE
    * narrow assignment map over the corpus; the update is a `groupBy
    * (cell, pos)` sum whose partial aggregation caps every map task's
    * exchange contribution at k×dims rows — the shuffled volume is
    * O(partitions × k × dims), independent of corpus size. The driver
    * holds k×dims doubles, never data.
    *
    * Init is the same deterministic hash-order sample `ivfKnn` uses
    * untrained, so trained == untrained at `iters = 0` (modulo
    * normalization). Empty cells keep their previous centroid.
    */
  def kmeansCentroids(df: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Double]] = {
    require(k > 0 && iters >= 0, s"kmeansCentroids: bad k=$k / iters=$iters")
    def unit(c: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    // loop invariant cached (guide §5, same rationale as pqTrain): the
    // init sample and every Lloyd round re-read the projected vectors —
    // 1 + iters source scans uncached, one cached. Unpersisted on return.
    val sel = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .where(size(col("v")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var cents: IndexedSeq[Seq[Double]] = sel
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k).collect().toIndexedSeq
      .map(r => unit(r.getSeq[Double](1).toIndexedSeq))
    require(cents.nonEmpty, s"kmeansCentroids: no non-empty '$vecCol' vectors")
    val v = sel.select(col("v").as("vec"))
    for (_ <- 1 to iters) {
      val cell = nearestCentroidIn(col("vec"),
        cents.zipWithIndex.map { case (cv, i) => (i, cv) })
      val sums = v.withColumn("cell", cell)
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCell.get(i) match {
          case Some(rows) =>
            val width = rows.map(_.getInt(1)).max + 1
            val mean = new Array[Double](width)
            rows.foreach(r => mean(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            unit(mean.toIndexedSeq)
          case None => old
        }
      }
    }
    cents
    } finally { sel.unpersist(false); () }
  }

  /** argmax_i score(vec, c_i) as a single fold over the scored centroids,
    * ties to the first strictly greater entry (lowest idx in array order).
    * Only for a TRANSFORMED score (`labelConfusion` rounds the dot before
    * the argmax), which no native expression covers; plain-dot assignment
    * is [[nearestCentroidIn]], and this fold over plain [[dot]] is its test
    * oracle.
    */
  def nearestCentroid(vec: Column, centroids: Seq[(Int, Seq[Double])],
      dotFn: (Column, Column) => Column): Column = {
    val scored = array(centroids.map { case (i, cv) =>
      struct(dotFn(vec, typedLit(cv)).as("s"), lit(i).as("idx"))
    }: _*)
    aggregate(scored,
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1).as("idx")),
      (acc, e) => when(e.getField("s") > acc.getField("s"), e).otherwise(acc),
      acc => acc.getField("idx"))
  }

  // Nearest centroid (`vec_nearest`) and centroids ranked by score desc,
  // id asc (`vec_ranks`): native codegen'd table expressions registered by
  // graft.GraftExtensions, one node holding the centroids as a table
  // reference instead of a k-codeword struct forest. Max inner product ≈
  // nearest for same-norm centroids. Shared by `ivfKnn`, k-means, the ANN
  // index build and serve, and streaming ingest (`VectorIngest`), so batch
  // and online assignment cannot drift apart. A null vector yields -1 /
  // ids ascending. The HOF folds they replace are test-scope oracles
  // (`KernelOracles`), pinned bit for bit by SimilaritySpec.
  private def centLit(centroids: Seq[(Int, Seq[Double])]): (Column, Column) =
    (typedLit(centroids.map(_._2.toSeq).toSeq), typedLit(centroids.map(_._1).toSeq))

  private[graft] def nearestCentroidIn(vec: Column,
      centroids: Seq[(Int, Seq[Double])]): Column = {
    val (cs, ids) = centLit(centroids)
    call_function("vec_nearest", vec, cs, ids)
  }

  private[graft] def centroidRanksIn(vec: Column,
      centroids: Seq[(Int, Seq[Double])]): Column = {
    val (cs, ids) = centLit(centroids)
    call_function("vec_ranks", vec, cs, ids)
  }

  /** Corpus with a trained k-means `cell` column: `kmeansCentroids` fits
    * the quantizer (bounded driver state, k×dims doubles), then ONE narrow
    * assignment map tags every row with its nearest cell — no shuffle of
    * the corpus, the centroids ride into the plan as broadcast literals.
    * The semantic-clustering front half of diversity sampling
    * (`Training.sampleNPerGroup` over the cells) and of any
    * cluster-stratified corpus analytics.
    */
  def kmeansAssign(df: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(df, k, iters, idCol, vecCol)
      .zipWithIndex.map { case (cv, i) => (i, cv) }
    df.withColumn("cell",
      nearestCentroidIn(asDouble(col(vecCol)), cents))
  }

  /** Exact per-label mean embedding (unit-normalized by default), computed
    * DISTRIBUTED — `posexplode` → `groupBy(label, pos)` average, whose
    * map-side partial agg caps each task's exchange contribution at
    * labels×dims rows — then collected bounded (labels×dims doubles, never
    * data). The class-prototype table of centroid-based classification.
    */
  def labelCentroids(df: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding",
      unitNorm: Boolean = true): Seq[(Int, Seq[Double])] = {
    val rows = df
      .select(col(labelCol).cast("int").as("lab"), asDouble(col(vecCol)).as("v"))
      .where(col("lab").isNotNull && size(col("v")) > 0)
      .select(col("lab"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("lab"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .collect()
    require(rows.nonEmpty, s"labelCentroids: no labeled non-empty '$vecCol' vectors")
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (lab, rs) =>
      val width = rs.map(_.getInt(1)).max + 1
      val m = new Array[Double](width)
      rs.foreach(r => m(r.getInt(1)) = r.getDouble(2))
      val n = math.sqrt(m.map(x => x * x).sum)
      (lab, (if (unitNorm && n > 0) m.map(_ / n) else m).toIndexedSeq)
    }
  }

  /** Nearest-centroid confusion matrix: every vector is assigned to its
    * closest label PROTOTYPE (max dot against the unit-normalized label
    * means — cosine order, since the prototypes share norm 1) and counted
    * against its true label. The diagonal measures how separable the label
    * structure is in embedding space; off-diagonal mass names the confusable
    * pairs — the standard embedding-quality audit before trusting semantic
    * dedup or cluster-stratified sampling on those vectors.
    *
    * Scale shape: `labelCentroids` is the only driver traffic (labels×dims
    * doubles); assignment is one narrow map with the prototypes as broadcast
    * literals; the confusion aggregate is ≤ labels² rows. Scores are rounded
    * to `decimals` before the argmax (ties → lowest label), so any engine
    * replaying the same arithmetic assigns identically.
    */
  def labelConfusion(df: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding", decimals: Int = 6): DataFrame = {
    val cents = labelCentroids(df, labelCol, vecCol)
    val rd: (Column, Column) => Column = (a, b) => roundz(dot(a, b), decimals)
    df.where(col(labelCol).isNotNull)
      .select(col(labelCol).cast("int").as("label"),
        nearestCentroid(asDouble(col(vecCol)), cents, rd).as("assigned"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-ITEM mislabel audit — the row-level companion to the aggregate
    * [[labelConfusion]]: every vector scored (dot, cosine order) against
    * its OWN label's unit prototype, and the `k` WORST-scoring vectors per
    * label returned (rank by score asc, vec_id tie-break). These are the
    * candidates to re-annotate first: a low score says the item sits far
    * from its own label's mass in embedding space.
    *
    * Bottom-k (not a threshold) keeps the output deterministic and
    * non-empty at every corpus size. Scale shape: prototypes are the only
    * driver traffic (labels×dims doubles, broadcast back as literals); the
    * scoring is one narrow map; the per-label rank is a window over
    * `labels` partitions — parallel, with WindowGroupLimit bounding the
    * map-side sort to k rows per partition.
    */
  def labelOutliers(df: DataFrame, k: Int, labelCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id",
      decimals: Int = 6): DataFrame = {
    require(k >= 1, s"labelOutliers: k must be >= 1, got $k")
    val cents = labelCentroids(df, labelCol, vecCol)
    // own-label score: one CASE over the broadcast prototypes
    val ownScore = cents.foldLeft(lit(null).cast("double")) { case (acc, (lab, cv)) =>
      when(col("label") === lab,
        roundz(dot(asDouble(col(vecCol)), typedLit(cv)), decimals)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("score").asc, col(idCol).asc)
    df.where(col(labelCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), col(labelCol).cast("int").as("label"),
        col(vecCol))
      .withColumn("score", ownScore)
      .where(col("score").isNotNull)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col(idCol), col("label"), col("score"), col("rn"))
  }

  /** Deterministic coarse-quantizer sample: smallest `nCentroids` ids by
    * hash order — the untrained (`trainIters = 0`) centroid set `ivfKnn`
    * uses, exposed so a caller can build the quantizer ONCE over the full
    * corpus and reuse it across differently-filtered searches
    * (`Embeddings.filteredIvfPqKnn`).
    */
  def sampleCentroids(candidates: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Seq[Double])] =
    candidates
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nCentroids)
      .collect()
      .toIndexedSeq
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toIndexedSeq) }

  /** IVF (inverted-file) approximate top-k — the other classic ANN scale
    * path next to sign-LSH. Coarse quantizer: `nCentroids` vectors chosen by
    * a deterministic hash-order sample of the corpus (`trainIters = 0`,
    * a k-medoids-style shortcut), or refined with that many spherical
    * k-means rounds (`kmeansCentroids`) — trained cells follow the data's
    * direction clusters, so the same nProbe recovers more true neighbors.
    * Every candidate is assigned to its nearest centroid (one shuffle by
    * centroid id); a query probes its `nProbe` nearest centroids and
    * re-ranks exactly within those inverted lists.
    *
    * At scale: assignment is a narrow map over the corpus; the probe join
    * touches nProbe/nCentroids of the data instead of all of it, and the
    * centroid table (nCentroids × dims doubles) broadcasts everywhere.
    */
  def ivfKnn(candidates: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainIters: Int = 0,
      precomputedCentroids: Option[Seq[(Int, Seq[Double])]] = None,
      spill: Int = 1): DataFrame = {
    require(spill >= 1, s"ivfKnn: spill=$spill must be >= 1")
    val c = candidates.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("cn", sqrt(dot(col("cvec"), col("cvec"))))
    // deterministic sample: smallest nCentroids ids by hash order; trained
    // centroids are unit-norm, so max-inner-product ranking = max cosine
    val centroids: Seq[(Int, Seq[Double])] = precomputedCentroids.getOrElse {
      if (trainIters > 0)
        kmeansCentroids(candidates, nCentroids, trainIters, idCol, vecCol)
          .toIndexedSeq.zipWithIndex.map { case (cv, i) => (i, cv) }
      else sampleCentroids(candidates, nCentroids, idCol, vecCol)
    }

    // spill > 1 = multi-cell assignment: a candidate lands in its `spill`
    // nearest inverted lists (index grows spill×), so boundary vectors —
    // the ones a single-cell IVF loses at low nProbe — stay reachable
    // from their second-closest cell too. Duplicate (qid, nid) pairs from
    // overlapping probes collapse before ranking.
    val assigned =
      if (spill == 1)
        c.withColumn("cell", nearestCentroidIn(col("cvec"), centroids))
      else
        c.withColumn("cell", explode(slice(
          graft.functions.Staging.pin(centroidRanksIn(col("cvec"), centroids)),
          1, spill)))
    val probed = queries
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("qn", sqrt(dot(col("qvec"), col("qvec"))))
      .withColumn("__ranks", centroidRanksIn(col("qvec"), centroids))
      .withColumn("cell", explode(slice(graft.functions.Staging.pin(col("__ranks")), 1, nProbe)))
      .drop("__ranks")
    val joined = assigned.join(probed, Seq("cell"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        when(col("cn") * col("qn") === 0, lit(0.0d))
          .otherwise(dot(col("qvec"), col("cvec")) / (col("cn") * col("qn"))).as("sim"))
    val scored = if (spill == 1) joined else joined.dropDuplicates("qid", "nid")
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b) with sim ≥ threshold,
    * via LSH buckets (no O(n²)). Recall < 1 by construction; raise recall
    * with fewer planes or multiple seeded rounds. `dims` ≤ 0 (the default)
    * reads the embedding width from the data.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double, dims: Int = -1,
      numPlanes: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    val planes = hyperplanes(if (dims > 0) dims else vecDims(df, vecCol), numPlanes, seed)
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .withColumn("bucket", lshBucket(col("vec"), planes))
      .withColumn("nrm", sqrt(dot(col("vec"), col("vec"))))
    val a = v.select(col("bucket"), col("id").as("a"), col("vec").as("va"), col("nrm").as("na"))
    val b = v.select(col("bucket"), col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        when(col("na") * col("nb") === 0, lit(0.0d))
          .otherwise(dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .where(col("sim") >= threshold)
      .select(col("a"), col("b"), roundz(col("sim"), 4).as("sim"))
      .distinct()
  }

  // --------------------------------------- incremental (batch vs corpus)

  /** Sign-LSH bucket index of a vector table: (idCol, bucket), one row per
    * vector. The bucket is a pure function of the embedding and the seeded
    * plane set, so a growing corpus computes it ONCE at ingest and stores
    * it as a table — the semantic-dedup analog of `Dedup.lshBuckets`.
    * Rebuild is only ever needed if (numPlanes, seed) change.
    */
  def cosineLshIndex(df: DataFrame, dims: Int = -1, numPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(if (dims > 0) dims else vecDims(df, vecCol), numPlanes, seed)
    df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .select(col(idCol), lshBucket(col("__v"), planes).as("bucket"))
  }

  /** Cosine near-dup matches of a new batch against a PRECOMPUTED corpus
    * bucket index ((new_id, corpus_id, sim ≥ threshold)) — the steady-state
    * ingest path of semantic dedup (x92's batch-over-batch shape, mirroring
    * `Dedup.incrementalMinhashMatchesWithIndex`):
    *   - the batch is bucketed with the SAME seeded planes ((numPlanes,
    *     seed) must match the index build), and the join keys on bucket, so
    *     a new vector only ever meets its bucket-mates — never corpus×batch;
    *   - the corpus side is the 100 TB one, so its oversized buckets are
    *     dropped by `maxBucketSize` (same skew policy as the index-less
    *     `cosineNearDupPairs`);
    *   - only vectors that appear in a candidate pair are re-read for the
    *     exact cosine verify (semi-join pruning on both sides), so the
    *     verify work is candidate-sized, not corpus-sized.
    * Identical vectors agree on every sign bit, so an exact cross-batch
    * copy ALWAYS meets its source (recall 1 on planted copies); recall on
    * merely-near pairs is the usual (1 − θ/π)^planes LSH trade.
    */
  def incrementalCosineMatchesWithIndex(newDf: DataFrame, corpus: DataFrame,
      corpusIndex: DataFrame, threshold: Double, dims: Int = -1,
      numPlanes: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    val planes = hyperplanes(if (dims > 0) dims else vecDims(newDf, vecCol), numPlanes, seed)
    val nb = newDf.select(col(idCol).as("new_id"), asDouble(col(vecCol)).as("__v"))
      .select(col("new_id"), lshBucket(col("__v"), planes).as("bucket"))
    val safeCb = corpusIndex
      .select(col(idCol).as("corpus_id"), col("bucket"))
      .withColumn("__n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket"))))
      .where(col("__n") <= maxBucketSize).drop("__n")
    val cands = nb.join(safeCb, Seq("bucket"))
      .select(col("new_id"), col("corpus_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def pruned(side: DataFrame, keyAs: String): DataFrame =
        side.join(cands.select(col(keyAs).as(idCol)).distinct(), Seq(idCol), "left_semi")
          .select(col(idCol).as(keyAs), asDouble(col(vecCol)).as(s"__v_$keyAs"))
          .withColumn(s"__n_$keyAs", sqrt(dot(col(s"__v_$keyAs"), col(s"__v_$keyAs"))))
      val verified = cands
        .join(pruned(newDf, "new_id"), Seq("new_id"))
        .join(pruned(corpus, "corpus_id"), Seq("corpus_id"))
        .select(col("new_id"), col("corpus_id"),
          when(col("__n_new_id") * col("__n_corpus_id") === 0, lit(0.0d))
            .otherwise(dot(col("__v_new_id"), col("__v_corpus_id")) /
              (col("__n_new_id") * col("__n_corpus_id"))).as("sim"))
        .where(col("sim") >= threshold)
        .select(col("new_id"), col("corpus_id"), roundz(col("sim"), 4).as("sim"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      verified.count()
      verified
    } finally cands.unpersist()
  }

  /** The new batch with semantic (cosine ≥ threshold) duplicates of the
    * corpus removed — the per-ingest decontamination step of a continuously
    * growing embedded corpus, against the stored `cosineLshIndex`.
    * Within-batch duplicates are a separate, composable concern (x92's
    * full-cluster pass on the batch itself), exactly as in
    * `Dedup.incrementalDedup`.
    */
  def incrementalSemanticDedup(newDf: DataFrame, corpus: DataFrame,
      corpusIndex: DataFrame, threshold: Double, dims: Int = -1,
      numPlanes: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    // matches are persisted+materialized (same contract as minhashPairs);
    // one-shot callers free them with the session cache
    val matched = incrementalCosineMatchesWithIndex(newDf, corpus, corpusIndex,
      threshold, dims, numPlanes, idCol, vecCol, seed, maxBucketSize)
    newDf.join(matched.select(col("new_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }
}
