package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.BitmapF

/** Fourth-sweep engine components: operators whose value is the state
  * or plan they carry, not just the rows they return — exact-distinct
  * bitmap rollups, binary-quantized retrieval, incremental join-view
  * maintenance, positional phrase search.
  */
object EngineQueries {

  // ---------------------------------------------------------------
  // bitmap_distinct — exact distinct via mergeable roaring bitmaps
  // ---------------------------------------------------------------

  /** Exact distinct user-days per event type, PLUS the `__all__`
    * rollup computed by OR-ing the five per-type bitmap states —
    * never re-touching the raw keys. `COUNT(DISTINCT …)` cannot do
    * that second step: distinct counts don't add, so every rollup
    * level costs another shuffle of the key set; the compressed
    * bitmap state (RoaringLite — 16 bits/key sparse, 1 bit/key dense)
    * makes exact distinct behave like SUM. Same ObjectHashAggregate /
    * map-side-partial plan as the HLL sketch, but the answer is exact.
    *
    * The key is (user_id << 16) | day: one container per user, the
    * user's active days as that container's low bits — so
    * `state_words` (total longs shipped) is a pure function of the
    * member set (exact-sized sparse arrays, 2 + ceil(days/4) words
    * per user; 2 + 1024 once a user passes RoaringLite's 4096-member
    * dense promotion) and the oracle predicts it to the word in
    * BOTH regimes.
    */
  def bitmapDistinct(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"),
        (col("user_id") * 65536L +
          pmod(expr("ts_us div 86400000000"), lit(65536L))).as("k"))
    val perType = keys.groupBy("event_type")
      .agg(BitmapF.bitmap(col("k")).as("state"))
    val allRow = perType
      .agg(BitmapF.bitmapMerge(col("state")).as("state"))
      .select(lit("__all__").as("event_type"), col("state"))
    perType.unionByName(allRow)
      .select(col("event_type"),
        expr("aggregate(state, 0L, (acc, c) -> acc + (c[1] & 4294967295))")
          .as("n_exact"),
        size(col("state")).cast("long").as("n_containers"),
        expr("aggregate(state, 0L, (acc, c) -> acc + size(c))")
          .as("state_words"))
      .orderBy("event_type")
  }

  val bitmapDistinctSql: String = """
    WITH keys AS (
      SELECT event_type,
        user_id * 65536 + (epoch_us(ts) // 86400000000) % 65536 AS k
      FROM events WHERE user_id IS NOT NULL),
    cont AS (
      SELECT event_type, k // 65536 AS hi, COUNT(DISTINCT k) AS n
      FROM keys GROUP BY 1, 2),
    cont_all AS (
      SELECT k // 65536 AS hi, COUNT(DISTINCT k) AS n
      FROM keys GROUP BY 1),
    per AS (
      SELECT event_type,
        CAST(SUM(n) AS BIGINT) AS n_exact,
        CAST(COUNT(*) AS BIGINT) AS n_containers,
        CAST(SUM(CASE WHEN n > 4096 THEN 1026
                      ELSE 2 + (n + 3) // 4 END) AS BIGINT) AS state_words
      FROM cont GROUP BY 1
      UNION ALL
      SELECT '__all__',
        CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CASE WHEN n > 4096 THEN 1026
                      ELSE 2 + (n + 3) // 4 END) AS BIGINT)
      FROM cont_all)
    SELECT event_type, n_exact, n_containers, state_words
    FROM per ORDER BY event_type"""

  // ---------------------------------------------------------------
  // sim_topk_binary — sign-quantized Hamming prefilter + exact rerank
  // ---------------------------------------------------------------

  /** Binary-signature ANN: Hamming over 32-bit-per-word sign
    * signatures selects 32 candidates per query (bounded TopK
    * aggregate — map-side partial, no per-query window over the
    * corpus), then only those pay the exact-cosine rerank. Stage 1
    * never reads the float vectors. See
    * [[graft.pipeline.Similarity.binaryTopK]] for the plan argument.
    */
  def simTopkBinary(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.pipeline.Similarity.binaryTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, prefilter = 32)
      .orderBy("query_id", "rank")
  }

  val simTopkBinarySql: String = {
    val dot = PipelineQueries.dotSql("q.embedding", "c.embedding")
    val sig = """
      [list_reduce(list_prepend(CAST(0 AS BIGINT),
        [CASE WHEN embedding[32*w + i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i)
              ELSE CAST(0 AS BIGINT) END FOR i IN range(0, 32)]),
        (a, b) -> a | b) FOR w IN range(0, (len(embedding)+31)//32)]"""
    s"""
    WITH e AS (SELECT vec_id, embedding,
      sqrt(${PipelineQueries.dotSql("embedding", "embedding")}) AS norm,
      $sig AS sig FROM embeddings),
    pre AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        CAST(list_sum([bit_count(xor(q.sig[j], c.sig[j]))
          FOR j IN range(1, len(q.sig) + 1)]) AS INT) AS hamming
      FROM e q, e c WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
    short AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS pr FROM pre),
    rr AS (
      SELECT s.query_id, s.neighbor_id, s.hamming,
        ROUND($dot / (q.norm * c.norm), 6) AS cos
      FROM short s
      JOIN e q ON s.query_id = q.vec_id
      JOIN e c ON s.neighbor_id = c.vec_id
      WHERE s.pr <= 32),
    ranked AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM rr)
    SELECT query_id, neighbor_id, hamming, cos, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""
  }

  // ---------------------------------------------------------------
  // ivm_delta_join — incremental maintenance of a JOIN view
  // ---------------------------------------------------------------

  /** The join counterpart to `ivm_merge_agg`'s aggregate proof: a
    * revenue-per-month view over orders⋈lineitem, maintained under a
    * batch arriving on BOTH sides by the textbook delta decomposition
    *
    *   Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB
    *
    * (batches split at 1998-07-01 on each side's own date). The query
    * emits the view merged from the four quadrant partials; the
    * equality against a from-scratch recompute is asserted by
    * IvmSpec (a deliberate compute-it-twice proof belongs in a test,
    * not in every bench run — the oracle already recomputes the view
    * independently in DuckDB, which is the stronger check anyway).
    *
    * Why this is the 100 TB shape: in steady state only the three
    * delta terms run, and each joins a SMALL delta against the big
    * old side — here pinned by broadcasting the delta side, so no
    * re-shuffle of the accumulated fact table ever happens; the view
    * partials merge like SUM (exact DECIMAL, order-independent).
    */
  def ivmDeltaJoin(s: SparkSession, d: String): DataFrame = {
    val T = "1998-07-01"
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(Q.Dec).as("rev"))
    val oOld = o.filter(col("o_orderdate") < lit(T))
    val oNew = o.filter(col("o_orderdate") >= lit(T))
    val lOld = l.filter(col("l_shipdate") < lit(T))
    val lNew = l.filter(col("l_shipdate") >= lit(T))
    // old⋈old is the persisted view's own partial; the three delta
    // terms broadcast their delta side against the old fact table
    def quad(of: DataFrame, lf: DataFrame): DataFrame =
      of.join(lf, col("o_orderkey") === col("l_orderkey"))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(col("rev")).as("rev_part"), count(lit(1)).as("n_part"))
    val parts = quad(oOld, lOld)
      .unionByName(quad(oOld, broadcast(lNew)))
      .unionByName(quad(broadcast(oNew), lOld))
      .unionByName(quad(broadcast(oNew), lNew))
    parts.groupBy("month").agg(
        round(sum(col("rev_part")), 2).cast("double").as("rev_maintained"),
        sum(col("n_part")).as("n_items"))
      .select(col("month"), col("n_items"), col("rev_maintained"))
      .orderBy("month")
  }

  /** From-scratch recompute of the [[ivmDeltaJoin]] view — test-only
    * (IvmSpec asserts it equals the maintained view). */
  def ivmDeltaJoinFull(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d).select(col("l_orderkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(Q.Dec).as("rev"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("rev")), 2).cast("double").as("rev_maintained"))
      .select(col("month"), col("n_items"), col("rev_maintained"))
      .orderBy("month")
  }

  val ivmDeltaJoinSql: String = {
    val quads = Seq(
      ("o_orderdate <  TIMESTAMP '1998-07-01'", "l_shipdate <  TIMESTAMP '1998-07-01'"),
      ("o_orderdate <  TIMESTAMP '1998-07-01'", "l_shipdate >= TIMESTAMP '1998-07-01'"),
      ("o_orderdate >= TIMESTAMP '1998-07-01'", "l_shipdate <  TIMESTAMP '1998-07-01'"),
      ("o_orderdate >= TIMESTAMP '1998-07-01'", "l_shipdate >= TIMESTAMP '1998-07-01'"))
      .map { case (oc, lc) => s"""
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
          SUM(rev) AS rev_part, COUNT(*) AS n_part
        FROM o JOIN l ON o_orderkey = l_orderkey
        WHERE $oc AND $lc GROUP BY 1""" }
      .mkString(" UNION ALL ")
    s"""
    WITH o AS (SELECT o_orderkey, o_orderdate FROM orders),
    l AS (SELECT l_orderkey, l_shipdate,
      CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6)) AS rev
      FROM lineitem),
    parts AS ($quads),
    m AS (SELECT month, CAST(ROUND(SUM(rev_part), 2) AS DOUBLE) AS rev_maintained,
      CAST(SUM(n_part) AS BIGINT) AS n_items FROM parts GROUP BY 1)
    SELECT month, n_items, rev_maintained FROM m ORDER BY month"""
  }

  // ---------------------------------------------------------------
  // seq_patterns — frequent event-type sequences (order matters)
  // ---------------------------------------------------------------

  /** Sequential pattern mining, the ordered complement of
    * `assoc_rules`' unordered itemsets: frequent length-2 and
    * length-3 event-type runs where consecutive events belong to the
    * same user and are ≤ 30 min apart (the sessionize gap). One keyed
    * window per user (two LEADs — never a global sort), then a plain
    * count aggregate over the emitted patterns; per-user state is the
    * user's own history, the same bound every sessionization here
    * carries. Support is both raw occurrences and distinct users, the
    * two numbers a curriculum/funnel designer actually reads.
    */
  def seqPatterns(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 1800000000L // 30 min
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("u1", lead(col("ts_us"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .withColumn("u2", lead(col("ts_us"), 2).over(w))
    val bi = ev
      .filter(col("t1").isNotNull && col("u1") - col("ts_us") <= gapUs)
      .select(lit(2).as("n"),
        concat_ws(">", col("event_type"), col("t1")).as("pattern"),
        col("user_id"))
    val tri = ev
      .filter(col("t2").isNotNull &&
        col("u1") - col("ts_us") <= gapUs && col("u2") - col("u1") <= gapUs)
      .select(lit(3).as("n"),
        concat_ws(">", col("event_type"), col("t1"), col("t2")).as("pattern"),
        col("user_id"))
    bi.unionByName(tri)
      .groupBy("n", "pattern")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .filter(col("occurrences") >= 5)
      .orderBy(col("n"), col("occurrences").desc, col("pattern"))
  }

  val seqPatternsSql: String = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        LEAD(event_type, 1) OVER w AS t1,
        LEAD(epoch_us(ts), 1) OVER w AS u1,
        LEAD(event_type, 2) OVER w AS t2,
        LEAD(epoch_us(ts), 2) OVER w AS u2
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    pats AS (
      SELECT 2 AS n, event_type || '>' || t1 AS pattern, user_id
      FROM ev WHERE t1 IS NOT NULL AND u1 - ts_us <= 1800000000
      UNION ALL
      SELECT 3, event_type || '>' || t1 || '>' || t2, user_id
      FROM ev WHERE t2 IS NOT NULL
        AND u1 - ts_us <= 1800000000 AND u2 - u1 <= 1800000000)
    SELECT n, pattern, COUNT(*) AS occurrences,
      COUNT(DISTINCT user_id) AS n_users
    FROM pats GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ORDER BY n, occurrences DESC, pattern"""

  // ---------------------------------------------------------------
  // phrase_search — positional posting-list intersection
  // ---------------------------------------------------------------

  /** Exact phrase queries the inverted-index way (what `bm25_topk`'s
    * bag-of-words scoring cannot answer): tokenize once into
    * positional postings (doc_id, pos, term), then a phrase of L
    * words is L−1 equi-joins on (doc_id, pos + offset). Each join
    * side is first FILTERED to one term — the selectivity an index
    * lookup gives for free — so at corpus scale only the matched
    * terms' postings move, hash-partitioned by (doc_id, pos); a
    * production layout would persist the postings bucketed by term to
    * make the filter a partition prune. No regex scan of the raw text
    * ever runs.
    */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    val tokens = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val perPhrase = Phrases.map { p =>
      val ws = p.split(' ')
      var m = tokens.filter(col("term") === ws(0))
        .select(col("doc_id"), col("pos").as("p0"))
      for (i <- 1 until ws.length) {
        val ti = tokens.filter(col("term") === ws(i))
          .select(col("doc_id").as(s"d$i"), (col("pos") - i).as(s"q$i"))
        m = m.join(ti, col("doc_id") === col(s"d$i") &&
            col(s"q$i") === col("p0"))
          .drop(s"d$i", s"q$i")
      }
      m.agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("occurrences"))
        .select(lit(p).as("phrase"), col("n_docs"), col("occurrences"))
    }
    perPhrase.reduce(_ unionByName _)
      .filter(col("occurrences") > 0)
      .orderBy("phrase")
  }

  private val Phrases =
    Seq("key agg row", "table table", "fast key scan", "value table part")

  val phraseSearchSql: String = {
    val branches = Phrases.map { p =>
      val ws = p.split(' ')
      val conds = ws.zipWithIndex
        .map { case (w, i) => s"tk[i + $i] = '$w'" }.mkString(" AND ")
      s"""
      SELECT '$p' AS phrase,
        CAST(COUNT(*) FILTER (WHERE occ > 0) AS BIGINT) AS n_docs,
        CAST(COALESCE(SUM(occ), 0) AS BIGINT) AS occurrences
      FROM (SELECT doc_id,
          list_sum([CASE WHEN $conds THEN 1 ELSE 0 END
            FOR i IN range(1, len(tk) - ${ws.length - 1} + 1)]) AS occ
        FROM t) HAVING COALESCE(SUM(occ), 0) > 0"""
    }.mkString(" UNION ALL ")
    s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
    $branches ORDER BY phrase"""
  }

  // ---------------------------------------------------------------
  // fd_discovery — functional-dependency profiling (TANE g3 metric)
  // ---------------------------------------------------------------

  /** Schema-constraint discovery over candidate column pairs: does
    * lhs → rhs hold, and if not, how badly — `g3` is the minimum
    * number of rows to delete to make it hold (Σ per-lhs-group
    * rows − its plurality-rhs count; Kivinen & Mannila's measure as
    * used by TANE). The engine shape is two cheap aggregations per
    * candidate — (lhs, rhs) cell counts, then per-lhs rollup — so each
    * probe is one scan of two columns with map-side combine, never a
    * pairwise comparison. This is the profiling pass a lakehouse runs
    * before trusting a join key or declaring a constraint.
    */
  def fdDiscovery(s: SparkSession, d: String): DataFrame = {
    // r17-opt: the probes used to run as 7 INDEPENDENT 3-level
    // aggregation chains unioned at the end — 22 exchanges / 26 AQE
    // job waves for seven tiny results, the last level a 1-row
    // aggregate PER PROBE. The heavy levels (cell counts, per-lhs
    // rollup) keep their native key types and per-probe chains — a
    // unified string-keyed stream was tried and measured SLOWER
    // (string casts + 3 tag strings per row fatten the big exchanges)
    // — but the seven 1-row finals now ride ONE tagged union +
    // aggregate: map-side partial combine collapses each branch to a
    // row per partition before the single exchange, so 7 waves become
    // 1 without touching the heavy levels.
    def perL(df: DataFrame, tab: String, lhs: String, rhs: String)
        : DataFrame =
      df.groupBy(col(lhs).as("l"), col(rhs).as("r"))
        .agg(count(lit(1)).as("n"))
        .groupBy("l")
        .agg(sum(col("n")).as("nl"), max(col("n")).as("ml"),
          count(lit(1)).as("nr"))
        .select(lit(tab).as("tab"), lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("nl"), col("ml"), col("nr"))
    val nation = Tables.nation(s, d); val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d); val li = Tables.lineitem(s, d)
    Seq(
      perL(nation, "nation", "n_nationkey", "n_name"),
      perL(nation, "nation", "n_regionkey", "n_name"),
      perL(cust, "customer", "c_custkey", "c_mktsegment"),
      perL(cust, "customer", "c_nationkey", "c_mktsegment"),
      perL(ord, "orders", "o_orderkey", "o_custkey"),
      perL(ord, "orders", "o_orderpriority", "o_orderstatus"),
      perL(li, "lineitem", "l_orderkey", "l_returnflag"))
      .reduce(_ unionByName _)
      .groupBy("tab", "lhs", "rhs")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("nr") > 1, 1L).otherwise(0L)).as("violating_groups"),
        sum(col("nl") - col("ml")).as("g3_rows"))
      .withColumn("holds", col("violating_groups") === 0L)
      .orderBy("tab", "lhs", "rhs")
  }

  val fdDiscoverySql: String = {
    val branches = Seq(
      ("nation", "n_nationkey", "n_name"),
      ("nation", "n_regionkey", "n_name"),
      ("customer", "c_custkey", "c_mktsegment"),
      ("customer", "c_nationkey", "c_mktsegment"),
      ("orders", "o_orderkey", "o_custkey"),
      ("orders", "o_orderpriority", "o_orderstatus"),
      ("lineitem", "l_orderkey", "l_returnflag"))
      .map { case (tab, lhs, rhs) => s"""
      SELECT '$tab' AS tab, '$lhs' AS lhs, '$rhs' AS rhs,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS violating_groups,
        CAST(SUM(nl - ml) AS BIGINT) AS g3_rows,
        SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS holds
      FROM (SELECT l, SUM(n) AS nl, MAX(n) AS ml, COUNT(*) AS nr
        FROM (SELECT $lhs AS l, $rhs AS r, COUNT(*) AS n
          FROM $tab GROUP BY 1, 2) GROUP BY l)""" }
      .mkString(" UNION ALL ")
    s"$branches ORDER BY tab, lhs, rhs"
  }

  // ---------------------------------------------------------------
  // score_quantile_norm — cross-source score normalization
  // ---------------------------------------------------------------

  /** Quantile normalization of a per-source score (here doc length)
    * onto the global distribution — the mixing-time fix for "source A's
    * 0.8 means something different than source B's 0.8". Histogram
    * form, not window form: per-source CDFs come from groupBy counts
    * on the bounded bin domain (n_chars div 32), the global CDF is a
    * second tiny rollup, and the bin→global-quantile mapping is an
    * inequality join between two METADATA-sized tables. No window ever
    * touches a per-document row, so a 10^9-doc source costs one
    * map-side-combined scan — the reason production score calibration
    * is histogram-based.
    */
  def scoreQuantileNorm(s: SparkSession, d: String): DataFrame = {
    val binned = Tables.documents(s, d)
      .select(col("source"), expr("n_chars div 32").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("n"))
      .persist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin")
    val tot = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val srcCdf = binned
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(tot))
      .withColumn("cdf", col("cum").cast("double") / col("total"))
    // the global CDF runs a window over the ~17-row bin table — a
    // metadata-sized frame, sanctioned exactly like value_histogram's
    val gw = org.apache.spark.sql.expressions.Window.orderBy("bin")
    val globalCdf = binned.groupBy("bin").agg(sum(col("n")).as("gn"))
      .withColumn("gcum", sum(col("gn")).over(gw))
      .crossJoin(broadcast(binned.agg(sum(col("n")).as("gtotal"))))
      .select(col("bin").as("gbin"),
        (col("gcum").cast("double") / col("gtotal")).as("gcdf"))
    val mapped = srcCdf.join(broadcast(globalCdf), col("gcdf") >= col("cdf"))
      .groupBy(col("source"), col("bin"), col("n"), col("cdf"))
      .agg(min(col("gbin")).as("norm_bin"))
    val out = mapped
      .select(col("source"), col("bin"), col("n"),
        round(col("cdf"), 6).as("cdf"), col("norm_bin"))
      .orderBy("source", "bin")
    graft.pipeline.Caching.materializeAndRelease(out, binned)
  }

  val scoreQuantileNormSql: String = """
    WITH binned AS (
      SELECT source, n_chars // 32 AS bin, COUNT(*) AS n
      FROM documents GROUP BY 1, 2),
    src AS (
      SELECT source, bin, n,
        CAST(SUM(n) OVER (PARTITION BY source ORDER BY bin) AS DOUBLE) /
          SUM(n) OVER (PARTITION BY source) AS cdf
      FROM binned),
    gq AS (
      SELECT bin AS gbin,
        CAST(SUM(gn) OVER (ORDER BY gbin) AS DOUBLE) /
          SUM(gn) OVER () AS gcdf
      FROM (SELECT bin, SUM(n) AS gn FROM binned GROUP BY 1)),
    mapped AS (
      SELECT source, bin, n, cdf, MIN(gbin) AS norm_bin
      FROM src JOIN gq ON gcdf >= cdf
      GROUP BY 1, 2, 3, 4)
    SELECT source, CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
      ROUND(cdf, 6) AS cdf, CAST(norm_bin AS BIGINT) AS norm_bin
    FROM mapped ORDER BY source, bin"""

  // ---------------------------------------------------------------
  // graph_link_predict — common-neighbor link prediction
  // ---------------------------------------------------------------

  /** Link prediction on the part co-purchase graph — candidate
    * generation by ORIENTED-WEDGE SUPPORT, exact metrics for the
    * selected pairs.
    *
    * The candidate score (`support`) counts the wedges whose center
    * ranks below BOTH endpoints in the (degree, id) total order — the
    * same orientation that bounds `graph_triangles` at O(m^1.5). That
    * is a deterministic LOWER BOUND of the true common-neighbor count
    * (wedges centered at a vertex ranking between or above the
    * endpoints are deliberately not enumerated), i.e. a bounded-cost
    * candidate-generation heuristic, not the Liben-Nowell & Kleinberg
    * metric itself. For the 20 selected pairs the query then computes
    * the EXACT common-neighbor count and exact Jaccard over full
    * neighbor sets — a two-stage "cheap candidate score, exact
    * re-rank metric" shape, with the exact pass touching only
    * 20 × maxdeg rows.
    *
    * Plan: wedge enumeration is one BROADCAST hash join on the center
    * (the oriented edge list is ~24 B/edge — broadcastable far beyond
    * this scale), so wedges never shuffle; endpoint pairs are packed
    * into ONE long (`y<<32|z`) so the single exchange of the plan
    * carries 8 B/row. Counting 41 M wedges into 32 M nearly-unique
    * groups is where hash aggregation collapses (measured 23 s at
    * sf0.1: the partial pass builds a useless 41 M-entry map, the
    * final pass a 32 M-entry one), so the count is a SORT-based
    * run-length scan instead: hash-repartition the packed longs,
    * radix-sort within partitions, and one fused pass run-length
    * counts, drops existing edges (sorted-array membership against
    * the broadcast packed edge list), and keeps a bounded top-20 per
    * partition under the final total order — each task emits ≤ 20
    * rows, and the global top-20 is a 20·P-row TakeOrdered. The same
    * total order per partition makes the bounded merge exact.
    */
  def graphLinkPredict(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // two-axis dense guard inside densePath: parquet footer stats
    // (zero jobs) bound the collect and the key widths; the pair
    // fan-out (the one-mega-order quadratic shape) is checked on the
    // driver before any CSR expansion; None = distributed form
    graft.operators.DenseGraph.densePath(s, proj,
        footer = Some((s"$d/lineitem.parquet", "l_orderkey", "l_partkey")))
      .getOrElse(graphLinkPredictDistributed(s, d))
  }

  /** Distinct undirected edges above which the fused
    * collect-and-broadcast anti filter gives way to a distributed
    * left_anti join: 2²⁴ packed edges = 128 MB on the driver and in
    * the wedge-join broadcast — comfortably under executor memory, and
    * the regime the dispatch routes here starts right above the 2²²
    * dense guard, so the fast fused form still covers two octaves. */
  val LinkPredictBroadcastEdges: Long = 1L << 24

  /** Fully distributed formulation (the 100 TB shape): one 8 B/row
    * exchange of packed wedge endpoints, sort-based run-length
    * counting — fused with the broadcast anti filter and a bounded
    * per-partition top-20 while the edge set fits
    * [[LinkPredictBroadcastEdges]]; above that NOTHING edge-sized
    * touches the driver or a broadcast: the wedge join shuffles, the
    * run-length pass emits one row per candidate pair, and the anti
    * filter is a distributed left_anti on the packed key before the
    * TakeOrdered. See [[graft.operators.DenseGraph]] for the
    * dense-regime broadcast-CSR twin and the dispatch guard;
    * LinkPredictSpec pins all paths to identical rows. */
  def graphLinkPredictDistributed(s: SparkSession, d: String): DataFrame =
    graphLinkPredictDistributed(s, d, LinkPredictBroadcastEdges)

  /** Test seam: `broadcastMax` forces the at-scale anti-join branch
    * when 0. */
  def graphLinkPredictDistributed(s: SparkSession, d: String,
                                  broadcastMax: Long): DataFrame = {
    import s.implicits._
    val raw = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val op = raw.distinct()
    val (opPairs, probed) =
      graft.operators.GraphEdges.coPurchasePairs(op, raw,
        memoPath = Some(s"$d/lineitem.parquet"))
    val released = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val e = opPairs.select(col("a"), col("b"))
      .distinct().persist()
    val deg = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg")).persist()
    val da = deg.select(col("v").as("a"), col("dg").as("da"))
    val db = deg.select(col("v").as("b"), col("dg").as("db"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oe = e.join(da, "a").join(db, "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("db")).otherwise(col("da")).as("dw"))
      .persist()
    def pack(y: org.apache.spark.sql.Column,
             z: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      shiftleft(y.cast("long"), 32).bitwiseOR(z.cast("long"))
    val m = oe.count()
    val o1 = oe.select(col("u"), col("w").as("v"), col("dw").as("dv"))
    val wedges = o1
      .join(if (m <= broadcastMax) broadcast(oe) else oe, "u")
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(pack(col("v"), col("w")).as("yz"))
    val top = if (m <= broadcastMax) {
      // packed existing-edge list for the in-task anti filter:
      // ~8 B/edge under the guard, sorted for binary-search membership
      val edgeArr = oe.select(pack(col("u"), col("w")).as("yz"))
        .as[Long].collect()
      java.util.Arrays.sort(edgeArr)
      val edgeB = s.sparkContext.broadcast(edgeArr)
      val perPart = wedges.repartition(col("yz"))
        .sortWithinPartitions("yz").as[Long]
        .mapPartitions { it =>
          val edges = edgeB.value
          // worst-first heap under (support desc, part_a, part_b asc)
          val worstFirst = new java.util.Comparator[Array[Long]] {
            def compare(a: Array[Long], b: Array[Long]): Int = {
              if (a(2) != b(2)) java.lang.Long.compare(a(2), b(2))
              else if (a(0) != b(0)) java.lang.Long.compare(b(0), a(0))
              else java.lang.Long.compare(b(1), a(1))
            }
          }
          val pq = new java.util.PriorityQueue[Array[Long]](21, worstFirst)
          def offer(yz: Long, n: Long): Unit = {
            val y = yz >>> 32; val z = yz & 0xffffffffL
            val pa = math.min(y, z); val pb = math.max(y, z)
            val cand = Array(pa, pb, n)
            if (pq.size < 20) {
              if (java.util.Arrays.binarySearch(edges, yz) < 0) pq.add(cand)
            } else if (worstFirst.compare(cand, pq.peek) > 0 &&
                java.util.Arrays.binarySearch(edges, yz) < 0) {
              pq.poll(); pq.add(cand)
            }
          }
          var cur = 0L; var n = 0L; var has = false
          while (it.hasNext) {
            val v = it.next()
            if (has && v == cur) n += 1
            else { if (has) offer(cur, n); cur = v; n = 1L; has = true }
          }
          if (has) offer(cur, n)
          pq.iterator.asScala.map(a => (a(0), a(1), a(2)))
        }.toDF("part_a", "part_b", "support")
      perPart
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(20)
    } else {
      // at-scale branch: ONE sort + run-length fold over the yz
      // exchange, with the BOUNDED driver Bloom over the packed edges
      // (Dedup.boundedBloom — capped bits, fpp degrades gracefully,
      // never false-negative) probed INSIDE the fold. Round 13 shipped
      // the Bloom tier as two filter consumers of the folded frame —
      // ReuseExchange deduped the shuffle WRITE but each consumer
      // re-ran the sort + fold; this form folds once. Bloom-negative
      // candidates — definite non-edges, the overwhelming majority —
      // never leave the task: after the yz repartition each candidate
      // pair lives wholly in one partition, so its support is complete
      // here and it reduces into a bounded per-partition top-20 under
      // the final total order (the hot branch's exact shape). Only the
      // Bloom-positive sliver (~m·(1+fpp) rows) is emitted for the
      // distributed left_anti verify — false positives die there,
      // false negatives are impossible. The folded output is tiny
      // (≤ 20 rows/partition + the sliver), so the persist that lets
      // both consumers share the single fold costs nothing.
      val packedEdges = oe.select(pack(col("u"), col("w")).as("yz"))
      val bloom = graft.pipeline.Dedup.boundedBloom(packedEdges, "yz", m)
      val bloomB = s.sparkContext.broadcast(bloom)
      val folded = wedges.repartition(col("yz"))
        .sortWithinPartitions("yz").as[Long]
        .mapPartitions { it =>
          val bf = bloomB.value
          val worstFirst = new java.util.Comparator[Array[Long]] {
            def compare(a: Array[Long], b: Array[Long]): Int = {
              if (a(2) != b(2)) java.lang.Long.compare(a(2), b(2))
              else if (a(0) != b(0)) java.lang.Long.compare(b(0), a(0))
              else java.lang.Long.compare(b(1), a(1))
            }
          }
          val pq = new java.util.PriorityQueue[Array[Long]](21, worstFirst)
          def offer(yz: Long, n: Long): Unit = {
            val y = yz >>> 32; val z = yz & 0xffffffffL
            val pa = math.min(y, z); val pb = math.max(y, z)
            val cand = Array(pa, pb, n, yz)
            if (pq.size < 20) pq.add(cand)
            else if (worstFirst.compare(cand, pq.peek) > 0) {
              pq.poll(); pq.add(cand)
            }
          }
          val base = it.buffered
          new Iterator[(Long, Long, Boolean)] {
            private var flush: Iterator[Array[Long]] = null
            private var row: (Long, Long, Boolean) = null
            private def advance(): Unit = {
              while (row == null && base.hasNext) {
                val v = base.head
                var n = 0L
                while (base.hasNext && base.head == v) { base.next(); n += 1 }
                if (bf.mightContainLong(v)) row = (v, n, true)
                else offer(v, n) // definite non-edge: fold into the heap
              }
              if (row == null) {
                if (flush == null) flush = pq.iterator.asScala
                if (flush.hasNext) {
                  val a = flush.next(); row = (a(3), a(2), false)
                }
              }
            }
            def hasNext: Boolean = { if (row == null) advance(); row != null }
            def next(): (Long, Long, Boolean) = {
              if (row == null) advance()
              val r = row; row = null; r
            }
          }
        }.toDF("yz", "support", "might")
        .persist()
      released += folded
      val definite = folded.filter(!col("might")).select("yz", "support")
      val suspect = folded.filter(col("might"))
        .join(packedEdges, Seq("yz"), "left_anti")
        .select("yz", "support")
      definite.unionByName(suspect)
        .select(
          least(shiftrightunsigned(col("yz"), 32),
            col("yz").bitwiseAND(lit(0xffffffffL))).as("part_a"),
          greatest(shiftrightunsigned(col("yz"), 32),
            col("yz").bitwiseAND(lit(0xffffffffL))).as("part_b"),
          col("support"))
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(20)
    }
    // exact re-rank metrics for the 20 winners: true common-neighbor
    // count from the undirected adjacency, restricted to the winners
    // (≤ 20·maxdeg rows on the small side of each broadcast join)
    val nbr = e.select(col("a").as("v"), col("b").as("c"))
      .unionByName(e.select(col("b").as("v"), col("a").as("c")))
    val seed = nbr.join(broadcast(top), col("v") === col("part_a"))
      .select(col("part_a"), col("part_b"), col("support"), col("c"))
    val tc = nbr.select(col("v").as("part_b"), col("c"))
      .join(broadcast(seed), Seq("part_b", "c"))
      .groupBy("part_a", "part_b", "support")
      .agg(count(lit(1)).as("common"))
    // the ≤20-row side is what broadcasts — deg is vertex-sized and
    // must never ride a broadcast at scale
    val withDy = deg.select(col("v").as("part_a"), col("dg").as("dy"))
      .join(broadcast(tc), Seq("part_a"))
    val out = deg.select(col("v").as("part_b"), col("dg").as("dz"))
      .join(broadcast(withDy), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("support"), col("common"),
        round(col("common").cast("double") /
          (col("dy") + col("dz") - col("common")), 6).as("jaccard"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
    graft.pipeline.Caching.materializeAndRelease(out,
      (Seq(e, deg, oe) ++ released ++ probed): _*)
  }

  val graphLinkPredictSql: String = """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem),
    e AS (SELECT DISTINCT x.p AS a, y.p AS b
      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS dg
      FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
    oe AS (SELECT
        CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
          THEN e.a ELSE e.b END AS u,
        CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
          THEN e.b ELSE e.a END AS w,
        CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
          THEN db.dg ELSE da.dg END AS dw
      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
    cn AS (SELECT o1.w AS y, o2.w AS z, CAST(COUNT(*) AS BIGINT) AS support
      FROM oe o1 JOIN oe o2 ON o1.u = o2.u
        AND (o1.dw < o2.dw OR (o1.dw = o2.dw AND o1.w < o2.w))
      GROUP BY 1, 2),
    top AS (SELECT LEAST(y, z) AS part_a, GREATEST(y, z) AS part_b, support
      FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM oe o3
        WHERE o3.u = cn.y AND o3.w = cn.z)
      ORDER BY support DESC, part_a, part_b LIMIT 20),
    nbr AS (SELECT a AS v, b AS c FROM e UNION ALL SELECT b, a FROM e),
    tc AS (SELECT t.part_a, t.part_b, t.support,
        CAST(COUNT(*) AS BIGINT) AS common
      FROM top t
      JOIN nbr n1 ON n1.v = t.part_a
      JOIN nbr n2 ON n2.v = t.part_b AND n2.c = n1.c
      GROUP BY 1, 2, 3)
    SELECT part_a, part_b, support, common,
      ROUND(CAST(common AS DOUBLE) / (dy.dg + dz.dg - common), 6) AS jaccard
    FROM tc JOIN deg dy ON dy.v = part_a JOIN deg dz ON dz.v = part_b
    ORDER BY support DESC, part_a, part_b"""

  // ---------------------------------------------------------------
  // bitext_mine — margin-based cross-corpus pair mining
  // ---------------------------------------------------------------

  /** Parallel-pair mining with the ratio-margin criterion (the
    * LASER/CCMatrix recipe): absolute cosine is miscalibrated across
    * corpora, so a candidate pair (x, y) scores
    * 2·cos(x,y) / (avgₖNN_B(x) + avgₖNN_A(y)) — cosine normalized by
    * BOTH endpoints' local neighborhood density — and x keeps only
    * its argmax-margin neighbor above 1.0. Corpus halves here are the
    * embedding label groups (0–4 vs 5–9).
    *
    * Plan: two bounded kNN passes through the shipped ANN tier —
    * [[graft.pipeline.Similarity.binaryTopK]]: 256-bit sign
    * signatures prefilter each query to [[BitextPrefilter]] Hamming
    * candidates (a bounded TopK aggregate — the per-query exchange
    * carries ids and Hamming distances, never a float vector), and
    * only those candidates pay the exact cosine re-rank. The
    * per-endpoint density aggregates are exact-DECIMAL sums over
    * exactly k rows, and the final argmax is max-of-struct per query
    * over ≤ k candidates. Verification split: the DuckDB oracle
    * REPLAYS the dispatch and the same candidate generation on both
    * branches (it pins determinism of the routed plan, not its
    * recall), while BitextSpec pins the ANN-routed top-4 against the
    * exact brute-force top-4 on the clustered regime at both test SFs
    * and floors recall on the no-structure corpus — recall
    * regressions are the spec's job, determinism regressions the
    * gate's.
    *
    * DISPATCH: the Hamming signature stage is O(|A|·|B|) by
    * construction — fine up to [[BitextHamMaxRows]] corpus rows (the
    * guard reads the parquet FOOTER, zero jobs), beyond which the
    * candidate source swaps for the IVF-celled route
    * ([[bitextMineIvf]] — same cells as `sim_ann_ivf_persisted`,
    * pair work bounded by cell caps, so the stage goes linear). The
    * margin algebra ([[bitextMargin]]) is index-agnostic and shared
    * verbatim by both branches; `bitext_mine_ivf` keeps the at-scale
    * branch independently oracle-checked at every SF (twin
    * convention), and `bitext_mine_exact` pins the algebra against a
    * prefilter-free exact oracle.
    */
  val BitextPrefilter = 48

  /** Corpus rows above which [[bitextMine]] leaves the O(|A|·|B|)
    * Hamming stage for the IVF-celled candidate source: 4096² ≈ 17M
    * signature comparisons is where the cross stage stops being cheap
    * relative to one cell-assignment pass. */
  val BitextHamMaxRows: Long = 4096L

  def bitextMine(s: SparkSession, d: String): DataFrame = {
    val n = graft.sources.ParquetStats
      .rowCount(s, s"$d/embeddings.parquet")
      .getOrElse(Tables.embeddings(s, d).count())
    if (n <= BitextHamMaxRows) bitextMineHamming(s, d)
    else bitextMineIvf(s, d)
  }

  /** The bounded-corpus branch: binary-signature Hamming prefilter
    * over the full cross product, exact-cosine re-rank, margin. */
  def bitextMineHamming(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val a = emb.filter(col("label") < 5)
    val b = emb.filter(col("label") >= 5)
    val kAB = graft.pipeline.Similarity
      .binaryTopK(b, a, "vec_id", "embedding", k = 4,
        prefilter = BitextPrefilter).drop("hamming")
    val kBA = graft.pipeline.Similarity
      .binaryTopK(a, b, "vec_id", "embedding", k = 4,
        prefilter = BitextPrefilter).drop("hamming")
    bitextMargin(kAB, kBA)
  }

  /** The at-scale branch: candidates come from the data-driven IVF
    * cell assignment ([[graft.pipeline.IvfIndex]] — k = ceil(n/128)
    * sampled two-level cells, oversized cells re-split; the same
    * machinery behind `sim_ann_ivf_persisted`). Each query's top-4
    * opposite-half neighbors are mined within its cell, so the
    * candidate stage is one equality join on `cell` with pair work
    * bounded by the cell caps — O(n·128), linear in the corpus, vs
    * the Hamming branch's O(|A|·|B|). Neighbors straddling a cell
    * boundary are the recall trade (BitextSpec measures and floors
    * it); the margin algebra downstream is shared verbatim. At
    * 100 TB the assignment rides the persisted cell sidecar and the
    * join prunes to cell partitions. */
  def bitextMineIvf(s: SparkSession, d: String): DataFrame = {
    // the persisted cell sidecar (the sim_ann_ivf_persisted machinery,
    // own variant to carry the label column): the first query over a
    // corpus snapshot builds + persists the assignment partitioned by
    // cell; every later mining run loads it with zero jobs over
    // embeddings.parquet and the cell join prunes to cell partitions
    val base = graft.pipeline.IvfIndex.cellsSidecar(
      s, s"$d/embeddings.parquet", "ivf-cells-bitext-v1",
      "vec_id BIGINT, label INT, embedding ARRAY<FLOAT>, " +
        "norm DOUBLE, cell BIGINT",
      graft.pipeline.IvfIndex.withCells(
        Tables.embeddings(s, d).select(col("vec_id"), col("label"),
          col("embedding"),
          graft.functions.VecF.normF(col("embedding")).as("norm")),
        "vec_id", "embedding")).persist()
    val a = base.filter(col("label") < 5)
    val b = base.filter(col("label") >= 5)
    // score+rank through the package's ONE cell-rerank contract
    // (ExtraQueries.cellScoreTopK — 6-dp round before ranking, tie by
    // neighbor_id); the co-partitioned join of two half-corpus sides
    // stays here (neither side is broadcastable at scale)
    def cellTopK(queries: DataFrame, corpus: DataFrame): DataFrame = {
      val q = queries.select(col("cell"), col("vec_id").as("query_id"),
        col("embedding").as("q_vec"), col("norm").as("q_norm"))
      val c = corpus.select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"), col("norm").as("c_norm"))
      ExtraQueries.cellScoreTopK(c.join(q, Seq("cell")), 4)
        .select("query_id", "neighbor_id", "cos")
    }
    val out = bitextMargin(cellTopK(a, b), cellTopK(b, a))
    graft.pipeline.Caching.materializeAndRelease(out, base)
  }

  /** The index-agnostic margin algebra shared by [[bitextMine]] and
    * [[bitextMineExact]]: per-endpoint kNN density normalization,
    * margin scoring, per-query argmax, margin > 1.0 keep. `kAB` is
    * the A-queries→B-neighbors top-k (query_id, neighbor_id, cos),
    * `kBA` the reverse. */
  private def bitextMargin(kAB: DataFrame, kBA: DataFrame): DataFrame = {
    // r18: dens_a folds into a window over kAB itself (same sum/count
    // algebra, partitioned by the query endpoint) instead of a
    // re-aggregate + self-join — the optimizer does NOT share the two
    // kAB derivations, so the join form computed the whole Hamming/
    // rerank candidate subtree twice per direction (guide §2.4). The
    // window's required distribution is query_id — satisfied by kAB's
    // own ranking window partitioning, zero added exchanges — and the
    // downstream per-a_id argmax groups on the same key. dens_b keeps
    // the aggregate+join form: it re-keys by the OTHER endpoint
    // (b_id), which no kAB-side partitioning can serve.
    val wA = Window.partitionBy("query_id")
    val densB = kBA.groupBy(col("query_id").as("b_id"))
      .agg((sum(col("cos").cast(Q.Dec)).cast("double") /
        count(lit(1))).as("dens_b"))
    val scored = kAB
      .withColumn("dens_a",
        sum(col("cos").cast(Q.Dec)).over(wA).cast("double") /
          count(lit(1)).over(wA))
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
        col("cos"), col("dens_a"))
      .join(densB, Seq("b_id"))
      .withColumn("margin",
        round(lit(2.0) * col("cos") / (col("dens_a") + col("dens_b")), 6))
    val best = scored.groupBy("a_id")
      .agg(max(struct(col("margin"), (-col("b_id")).as("nb"),
        col("b_id"), col("cos"))).as("m"))
      .select(col("a_id"), col("m.b_id").as("b_id"), col("m.cos").as("cos"),
        col("m.margin").as("margin"))
    best.filter(col("margin") > 1.0).orderBy("a_id")
  }

  /** margin-algebra tail CTEs over `${p}kab` / `${p}kba`, emitting
    * `${p}final` — the SQL mirror of [[bitextMargin]], shared by every
    * branch oracle (prefix `p` keeps the dispatched oracle's two
    * branches from colliding). */
  private def bitextMarginTailSql(p: String): String = s"""
    ${p}dens_a AS (SELECT a_id,
        CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS dens_a
      FROM ${p}kab GROUP BY 1),
    ${p}dens_b AS (SELECT b_id,
        CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS dens_b
      FROM ${p}kba GROUP BY 1),
    ${p}scored AS (
      SELECT k.a_id, k.b_id, k.cos,
        ROUND(2.0 * k.cos / (da.dens_a + db.dens_b), 6) AS margin
      FROM ${p}kab k JOIN ${p}dens_a da ON k.a_id = da.a_id
      JOIN ${p}dens_b db ON k.b_id = db.b_id),
    ${p}best AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY a_id ORDER BY margin DESC, b_id) AS br
      FROM ${p}scored),
    ${p}final AS (SELECT a_id, b_id, cos, margin FROM ${p}best
      WHERE br = 1 AND margin > 1.0)"""

  /** Hamming-branch candidate CTEs (prefix `h_`), emitting h_kab/h_kba. */
  private def bitextHammingCtes: String = {
    val dot = PipelineQueries.dotSql("a.embedding", "b.embedding")
    val sig = """
      [list_reduce(list_prepend(CAST(0 AS BIGINT),
        [CASE WHEN embedding[32*w + i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i)
              ELSE CAST(0 AS BIGINT) END FOR i IN range(0, 32)]),
        (a, b) -> a | b) FOR w IN range(0, (len(embedding)+31)//32)]"""
    val ham = """CAST(list_sum([bit_count(xor(q.sig[j], c.sig[j]))
          FOR j IN range(1, len(q.sig) + 1)]) AS BIGINT)"""
    s"""he AS (SELECT vec_id, label, embedding,
      sqrt(${PipelineQueries.dotSql("embedding", "embedding")}) AS norm,
      $sig AS sig FROM embeddings),
    h_pre_ab AS (
      SELECT q.vec_id AS a_id, c.vec_id AS b_id, $ham AS hamming
      FROM he q JOIN he c ON q.label < 5 AND c.label >= 5),
    h_pre_ba AS (
      SELECT q.vec_id AS b_id, c.vec_id AS a_id, $ham AS hamming
      FROM he q JOIN he c ON q.label >= 5 AND c.label < 5),
    h_short_ab AS (SELECT a_id, b_id FROM (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY a_id ORDER BY hamming, b_id) AS pr FROM h_pre_ab)
      WHERE pr <= $BitextPrefilter),
    h_short_ba AS (SELECT a_id, b_id FROM (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY b_id ORDER BY hamming, a_id) AS pr FROM h_pre_ba)
      WHERE pr <= $BitextPrefilter),
    h_kab AS (SELECT * FROM (
      SELECT s.a_id, s.b_id,
        ROUND($dot / (a.norm * b.norm), 6) AS cos,
        ROW_NUMBER() OVER (PARTITION BY s.a_id
          ORDER BY ROUND($dot / (a.norm * b.norm), 6) DESC, s.b_id) AS rn
      FROM h_short_ab s JOIN he a ON s.a_id = a.vec_id
      JOIN he b ON s.b_id = b.vec_id) WHERE rn <= 4),
    h_kba AS (SELECT * FROM (
      SELECT s.a_id, s.b_id,
        ROUND($dot / (a.norm * b.norm), 6) AS cos,
        ROW_NUMBER() OVER (PARTITION BY s.b_id
          ORDER BY ROUND($dot / (a.norm * b.norm), 6) DESC, s.a_id) AS rn
      FROM h_short_ba s JOIN he a ON s.a_id = a.vec_id
      JOIN he b ON s.b_id = b.vec_id) WHERE rn <= 4)"""
  }

  /** IVF-branch candidate CTEs (prefix `v_`): the
    * [[graft.pipeline.IvfIndex.cellsSqlCtes]] replay plus
    * same-cell top-4 per query half, emitting v_kab/v_kba. */
  private def bitextIvfCtes: String = {
    val dot = PipelineQueries.dotSql("a.embedding", "b.embedding")
    s"""${graft.pipeline.IvfIndex.cellsSqlCtes(
        "embeddings", "vec_id", "embedding")},
    ce AS (SELECT emb.vec_id, emb.label, emb.embedding,
      sqrt(${PipelineQueries.dotSql("emb.embedding", "emb.embedding")})
        AS norm,
      ivf_cells.cell
      FROM embeddings emb JOIN ivf_cells ON emb.vec_id = ivf_cells.id),
    v_kab AS (SELECT * FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        ROUND($dot / (a.norm * b.norm), 6) AS cos,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id
          ORDER BY ROUND($dot / (a.norm * b.norm), 6) DESC, b.vec_id) AS rn
      FROM ce a JOIN ce b ON a.cell = b.cell
        AND a.label < 5 AND b.label >= 5) WHERE rn <= 4),
    v_kba AS (SELECT * FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        ROUND($dot / (a.norm * b.norm), 6) AS cos,
        ROW_NUMBER() OVER (PARTITION BY b.vec_id
          ORDER BY ROUND($dot / (a.norm * b.norm), 6) DESC, a.vec_id) AS rn
      FROM ce a JOIN ce b ON a.cell = b.cell
        AND a.label < 5 AND b.label >= 5) WHERE rn <= 4)"""
  }

  /** Dispatched oracle: replays the footer row-count guard with a
    * COUNT(*) scalar (the exact same integer) and selects the branch
    * the engine takes, so the gate stays green at every SF. Known
    * cost: the guard is a runtime scalar, so DuckDB cannot prune the
    * dead branch at plan time and evaluates BOTH — acceptable because
    * the gate runs at sf0.01 (both branches cheap) and each branch is
    * independently gated at scale by its twin (`bitext_mine_ivf`,
    * `bitext_mine_exact`); a static SQL string cannot know the SF. */
  val bitextMineSql: String = s"""
    WITH $bitextHammingCtes,
    ${bitextMarginTailSql("h_").trim},
    $bitextIvfCtes,
    ${bitextMarginTailSql("v_").trim}
    SELECT a_id, b_id, cos, margin FROM h_final
      WHERE (SELECT COUNT(*) FROM embeddings) <= $BitextHamMaxRows
    UNION ALL
    SELECT a_id, b_id, cos, margin FROM v_final
      WHERE (SELECT COUNT(*) FROM embeddings) > $BitextHamMaxRows
    ORDER BY a_id"""

  /** The forced IVF branch's own oracle — keeps the at-scale plan
    * checked at every SF regardless of where the dispatch lands. */
  val bitextMineIvfSql: String = s"""
    WITH $bitextIvfCtes,
    ${bitextMarginTailSql("v_").trim}
    SELECT a_id, b_id, cos, margin FROM v_final ORDER BY a_id"""

  /** Slice bound for [[bitextMineExact]]: vec_id < 512 caps BOTH brute
    *-force sides at a constant few hundred vectors at every SF. */
  val BitextExactSlice = 512

  /** Oracle-independence companion to [[bitextMine]] (round-13 verdict
    * ask #3): same margin algebra, but its DuckDB oracle is EXACT
    * brute-force cosine kNN — no Hamming prefilter anywhere in the
    * SQL, so the gate no longer mirrors the ANN candidate route. The
    * Spark side still runs the production [[graft.pipeline.Similarity
    * .binaryTopK]] machinery, with `prefilter` = the slice bound —
    * wide enough that NO candidate is dropped — so the bounded TopK
    * aggregate, the exact-cosine re-rank and the margin algebra are
    * all checked end-to-end against a prefilter-free truth. (The
    * production 48-candidate prefilter cannot equal brute force on an
    * unstructured corpus — recall stays BitextSpec's job; this row
    * owns exactness of everything downstream of the candidate set.)
    * The slice keeps the oracle's O(n²) join constant-size at every
    * SF — deliberately scale-flat, like the other *_exact baselines. */
  def bitextMineExact(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .filter(col("vec_id") < BitextExactSlice)
    val a = emb.filter(col("label") < 5)
    val b = emb.filter(col("label") >= 5)
    val kAB = graft.pipeline.Similarity
      .binaryTopK(b, a, "vec_id", "embedding", k = 4,
        prefilter = BitextExactSlice).drop("hamming")
    val kBA = graft.pipeline.Similarity
      .binaryTopK(a, b, "vec_id", "embedding", k = 4,
        prefilter = BitextExactSlice).drop("hamming")
    bitextMargin(kAB, kBA)
  }

  val bitextMineExactSql: String = {
    val dot = PipelineQueries.dotSql("a.embedding", "b.embedding")
    val cos = s"ROUND($dot / (a.norm * b.norm), 6)"
    s"""
    WITH e AS (SELECT vec_id, label, embedding,
      sqrt(${PipelineQueries.dotSql("embedding", "embedding")}) AS norm
      FROM embeddings WHERE vec_id < $BitextExactSlice),
    kab AS (SELECT * FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id, $cos AS cos,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id
          ORDER BY $cos DESC, b.vec_id) AS rn
      FROM e a JOIN e b ON a.label < 5 AND b.label >= 5) WHERE rn <= 4),
    kba AS (SELECT * FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id, $cos AS cos,
        ROW_NUMBER() OVER (PARTITION BY b.vec_id
          ORDER BY $cos DESC, a.vec_id) AS rn
      FROM e a JOIN e b ON a.label < 5 AND b.label >= 5) WHERE rn <= 4),
    dens_a AS (SELECT a_id,
        CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS dens_a
      FROM kab GROUP BY 1),
    dens_b AS (SELECT b_id,
        CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS dens_b
      FROM kba GROUP BY 1),
    scored AS (
      SELECT k.a_id, k.b_id, k.cos,
        ROUND(2.0 * k.cos / (da.dens_a + db.dens_b), 6) AS margin
      FROM kab k JOIN dens_a da ON k.a_id = da.a_id
      JOIN dens_b db ON k.b_id = db.b_id),
    best AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY a_id ORDER BY margin DESC, b_id) AS br FROM scored)
    SELECT a_id, b_id, cos, margin FROM best
    WHERE br = 1 AND margin > 1.0 ORDER BY a_id"""
  }

  // ---------------------------------------------------------------
  // percentile_twophase — exact global percentiles with NO global sort
  // ---------------------------------------------------------------

  /** Exact p50/p90/p99 of l_extendedprice without ever sorting the
    * table — via [[graft.operators.ExactPercentile]]'s iterative
    * narrowing: each round is one scan histogramming every target's
    * current candidate range into 2048 sub-ranges (driver state ≤
    * targets·bins, never rows), ranges shrink ~2048× per round, and
    * the final pass row_numbers only the slivers. Unlike the
    * round-11 single-level formulation this does NOT depend on the
    * value domain being ≲2k bins wide — `percentile_twophase_ts`
    * exercises the same operator over the unbounded μs-timestamp
    * domain. The contrast is `percentiles`' single-node formulation:
    * a global ORDER BY at 100 TB is a full-table range exchange; this
    * is ≤ ⌈64/11⌉ cheap scans and a filter. Exactness: rank
    * r = ceil(p·N) in integer permille arithmetic, the type-1 (lower
    * discontinuous) sample quantile.
    */
  def percentileTwophase(s: SparkSession, d: String): DataFrame =
    graft.operators.ExactPercentile.percentiles(
      Tables.lineitem(s, d).select(col("l_extendedprice")),
      "l_extendedprice", Seq(500L, 900L, 990L))

  /** [[percentileTwophase]] over the unbounded-domain event
    * timestamps (μs since epoch, ~2⁵⁰ wide — no single-level
    * value-domain histogram can cover it): the iterative-narrowing
    * proof query. */
  def percentileTwophaseTs(s: SparkSession, d: String): DataFrame =
    graft.operators.ExactPercentile.percentiles(
      Tables.events(s, d).select(col("ts_us")),
      "ts_us", Seq(500L, 900L, 990L))

  val percentileTwophaseTsSql: String = """
    WITH n AS (SELECT COUNT(*) AS total FROM events),
    ps AS (SELECT UNNEST([500, 900, 990]) AS pm),
    t AS (SELECT pm / 1000.0 AS p,
      CAST((pm * total + 999) // 1000 AS BIGINT) AS r FROM ps, n),
    ranked AS (SELECT epoch_us(ts) AS v,
      ROW_NUMBER() OVER (ORDER BY epoch_us(ts)) AS rn FROM events)
    SELECT p, r AS rank, v AS value
    FROM t JOIN ranked ON ranked.rn = t.r ORDER BY p"""

  val percentileTwophaseSql: String = """
    WITH n AS (SELECT COUNT(*) AS total FROM lineitem),
    ps AS (SELECT UNNEST([500, 900, 990]) AS pm),
    t AS (SELECT pm / 1000.0 AS p,
      CAST((pm * total + 999) // 1000 AS BIGINT) AS r FROM ps, n),
    ranked AS (SELECT l_extendedprice AS v,
      ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn FROM lineitem)
    SELECT p, r AS rank, v AS value
    FROM t JOIN ranked ON ranked.rn = t.r ORDER BY p"""

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("bitmap_distinct", bitmapDistinct, Some(bitmapDistinctSql)),
    QuerySpec("sim_topk_binary", simTopkBinary, Some(simTopkBinarySql)),
    QuerySpec("ivm_delta_join", ivmDeltaJoin, Some(ivmDeltaJoinSql)),
    QuerySpec("seq_patterns", seqPatterns, Some(seqPatternsSql)),
    QuerySpec("phrase_search", phraseSearch, Some(phraseSearchSql)),
    QuerySpec("fd_discovery", fdDiscovery, Some(fdDiscoverySql)),
    QuerySpec("score_quantile_norm", scoreQuantileNorm,
      Some(scoreQuantileNormSql)),
    QuerySpec("graph_link_predict", graphLinkPredict,
      Some(graphLinkPredictSql)),
    // the at-scale fallback, pinned to the same oracle (and to the
    // dense path row-for-row by LinkPredictSpec); bench=false — it
    // exists so the decade probe can measure the fallback's OWN
    // scaling like-for-like instead of across the dispatch boundary
    QuerySpec("graph_link_predict_dist", graphLinkPredictDistributed,
      Some(graphLinkPredictSql), bench = false),
    QuerySpec("bitext_mine", bitextMine, Some(bitextMineSql)),
    // the forced at-scale branch (twin convention, like graph_*_dist):
    // oracle-checked at every SF and decade-measured like-for-like so
    // the panel never smears a ratio across the dispatch boundary;
    // bench=false — the dispatched wrapper is the benched surface
    QuerySpec("bitext_mine_ivf", bitextMineIvf, Some(bitextMineIvfSql),
      bench = false),
    QuerySpec("bitext_mine_exact", bitextMineExact,
      Some(bitextMineExactSql)),
    QuerySpec("percentile_twophase", percentileTwophase,
      Some(percentileTwophaseSql)),
    QuerySpec("percentile_twophase_ts", percentileTwophaseTs,
      Some(percentileTwophaseTsSql)))
}
