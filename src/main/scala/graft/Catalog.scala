package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.multimodal.{ImageHash, Multimodal}
import graft.operators._
import graft.oracle.OracleGen
import graft.streaming.StreamParity

/** The row catalog: every named DataFrame graft times, checks against
  * its DuckDB oracle, runs at 10×, or pins the plan shape of — one entry
  * per row (SURVEY.md §2 has the inventory). A row carries its build
  * function, its oracle SQL when it has one, and tags saying which
  * tools run it. Adding or renaming a row means editing its one entry
  * here; the row maps in [[SparkEntry]] and every bench, smoke and
  * plan tool derive from this list, and `CatalogSpec` checks names,
  * tag sets and oracle SQL against a committed snapshot.
  *
  * The oracle SQL is equivalent ANSI SQL that DuckDB runs on the same
  * parquet tables; rows that no SQL can express (a hash function or a
  * fit with no DuckDB counterpart) are bench-only and carry none. The
  * D-series streaming parity rows reuse their batch twins' oracles
  * VERBATIM: the streaming replay must produce value-identical final
  * state, so a drift between incremental and from-scratch answers
  * hash-mismatches. */
object Catalog {
  type Build = (SparkSession, String) => DataFrame

  sealed trait Tag
  object Tag {
    /** timed by [[graft.Bench]]: every oracle-gated row plus the
      * bench-only production paths */
    case object Bench extends Tag
    /** timed at 10× by [[ScaleSmoke]], in catalog order */
    case object Smoke extends Tag
    /** exchange/join counts pinned by PlanShapeSpec and printed by
      * [[graft.tools.PlanCounts]]: the multi-second bench rows */
    case object PlanPinned extends Tag
    /** a micro-batch replay: reported in Bench's `totals.streaming`,
      * apart from the batch suite */
    case object Streaming extends Tag
  }
  import Tag._

  /** `scaleForm` is what the 10× smoke, the plan pins and PlanDump run
    * when it differs from the oracle-gated build (one row:
    * bitext_mine_ann is gated at full probe width, smoke-timed at
    * probeBits=2). */
  final case class Row(name: String, build: Build, oracle: Option[String],
                       tags: Set[Tag], scaleForm: Option[Build] = None) {
    def scaleBuild: Build = scaleForm.getOrElse(build)
    def withScaleForm(f: Build): Row = copy(scaleForm = Some(f))
  }

  /** the row named `name`; throws on an unknown name */
  def apply(name: String): Row =
    rows.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no catalog row named $name"))

  def tagged(tag: Tag): Seq[Row] = rows.filter(_.tags(tag))

  /** name -> build for the rows carrying `tag` */
  def builds(tag: Tag): Map[String, Build] =
    tagged(tag).map(r => r.name -> r.build).toMap

  /** an oracle-gated bench row: `sql` is `build`'s DuckDB mirror */
  private def row(name: String, build: Build, tags: Tag*)(sql: String): Row =
    Row(name, build, Some(sql), tags.toSet + Bench)

  /** a bench-only production path with no DuckDB counterpart */
  private def benchOnly(name: String, build: Build): Row =
    Row(name, build, None, Set(Bench))

  // Shared SQL fragments for the oracle (DuckDB) side. The cast discipline
  // mirrors graft.functions.Agg: decimal-exact sums cast to double.
  private def dsum(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"
  private def drev =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
  private def davg(c: String) = s"${dsum(c)} / COUNT($c)"

  // oracles that more than one row answers to
  private val oracleSqlQ3 =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $drev AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  private val oracleSqlAsof =
    """SELECT e.user_id, e.event_id, e.ts, p.value AS p_value
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
      |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.user_id, e.event_id""".stripMargin

  private val timeWindowAggSql =
    s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
       |       COUNT(*) AS n_events, ${dsum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  private val wrappedExportSql =
    """SELECT o_orderpriority, COUNT(*) AS total,
      |       to_json(list(struct_pack(o_orderkey := o_orderkey)
      |                    ORDER BY o_orderkey)) AS rows_json
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private val topkNgramsSql =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngram
      |  FROM t WHERE len(toks) >= 3
      |)
      |SELECT ngram, COUNT(*) AS n_occurrences,
      |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM g GROUP BY ngram
      |ORDER BY n_occurrences DESC, ngram
      |LIMIT 25""".stripMargin

  /** Every row. A def, not a val: an oracle may interpolate state
    * recorded while its row runs (pca_project's fitted basis), so each
    * read derives the SQL afresh — Verify reads `oracleSql` after the
    * rows have run. */
  def rows: Seq[Row] = Seq(
    // ---- the 10x scale smoke set, in the order ScaleSmoke runs it: the
    // most expensive operators, plus the r10 additions whose cost is
    // corpus-scale (the ngram explode, the IVF-PQ index+search chain, the
    // iterative PageRank over the kNN graph, the two-corpus KMV sketch
    // scan, the WARC land-and-ingest round trip, and the late-r10
    // curation set: the CCNet LM+quantile split, the DoReMi per-source LM
    // means, the full-corpus cluster assignment, and the two-version PSI
    // scan)
    // production structure (hashed band keys) at the oracle-portable
    // token hash; the xxhash64 point stays in benchExtras
    // band-key hashing can only change the pair set via a 2^-64
    // collision, so the production-structure row answers the same
    // mirror as the raw-band demo
    row("dedup_minhash_prod", TextDemos.dedupMinhashProd(_, _), Smoke)(OracleGen.minhashLshSql()),
    row("dup_span_detect", TextDemos.dupSpanDetect(_, _), Smoke, PlanPinned)(
      OracleGen.dupSpansSql()),
    row("semantic_dedup", TextDemos.semanticDedup(_, _), Smoke)(OracleGen.semanticDedupSql()),
    row("bm25_topk", TextDemos.bm25Topk(_, _), Smoke, PlanPinned)(OracleGen.bm25TopkSql()),
    row("quality_classifier", TextDemos.qualityClassifier(_, _), Smoke)(OracleGen.logregScoreSql()),
    row("image_phash_dedup", ImageHash.imagePhashDedup(_, _), Smoke)(OracleGen.imagePhashSql()),
    row("geocode_candidates", RefDemos.geocodeCandidates(_, _), Smoke)(
      OracleGen.geocodeCandidatesSql()),
    // content-defined chunking: boundary rule hash(tok) % 8 = 0, chunk
    // spans from prepend(0, bounds+1) x append(bounds+1, n), empty tail
    // slot dropped, duplicate flag = distinct-doc count per chunk hash
    row("cdc_chunk_dedup", TextDemos.cdcChunkDedup(_, _), Smoke, PlanPinned)(
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, ts,
        |         list_filter(range(0, len(ts)),
        |           p -> (('0x'||substr(md5(ts[p+1]),1,15))::BIGINT % 8) = 0) AS bounds
        |  FROM ws WHERE len(ts) >= 1
        |), se AS (
        |  SELECT doc_id, ts,
        |         list_prepend(0, list_transform(bounds, x -> x + 1)) AS starts,
        |         list_append(list_transform(bounds, x -> x + 1), len(ts)) AS ends
        |  FROM b
        |), chunks AS (
        |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS chunk_idx,
        |         CAST(starts[u.i] AS BIGINT) AS start_tok,
        |         CAST(ends[u.i] - starts[u.i] AS BIGINT) AS n_tokens,
        |         array_to_string(ts[starts[u.i] + 1 : ends[u.i]], ' ') AS chunk_text
        |  FROM se CROSS JOIN UNNEST(range(1, len(starts) + 1)) AS u(i)
        |  WHERE ends[u.i] > starts[u.i]
        |), h AS (
        |  SELECT doc_id, chunk_idx, start_tok, n_tokens,
        |         ('0x'||substr(md5(chunk_text),1,15))::BIGINT AS chunk_hash
        |  FROM chunks
        |), dfc AS (
        |  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS ndocs FROM h GROUP BY chunk_hash
        |)
        |SELECT h.doc_id, h.chunk_idx, h.start_tok, h.n_tokens, h.chunk_hash,
        |       (dfc.ndocs >= 2) AS is_dup
        |FROM h JOIN dfc USING (chunk_hash)
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    row("knn_graph", TextDemos.knnGraphDemo(_, _), Smoke)(OracleGen.knnGraphSql()),
    row("stream_dedup_parity", StreamParity.streamDedupParity(_, _), Smoke, Streaming)(
      OracleGen.minhashLshSql()),
    row("topk_ngrams", TextDemos.topkNgrams(_, _), Smoke)(topkNgramsSql),
    row("ivfpq_topk", TextDemos.ivfPqTopkDemo(_, _), Smoke)(OracleGen.ivfPqTopkSql()),
    row("pagerank_centrality", TextDemos.pagerankCentrality(_, _), Smoke, PlanPinned)(
      OracleGen.pagerankCentralitySql()),
    row("corpus_overlap_kmv", TextDemos.corpusOverlapKmv(_, _), Smoke)(
      OracleGen.corpusOverlapKmvSql()),
    // C69: the WARC envelope is deterministic, so the oracle recomputes
    // every surfaced column from the table (the Spark side goes through
    // real .warc shards + header parse + Content-Length framing)
    row("warc_ingest", RefDemos.warcIngest(_, _), Smoke)(
      """SELECT 'urn:graft:doc-' || doc_id AS record_id,
        |       'https://graft.example/doc/' || doc_id AS target_uri,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |       text, doc_id
        |FROM documents ORDER BY doc_id""".stripMargin),
    row("ccnet_buckets", TextDemos.ccnetBuckets(_, _), Smoke)(OracleGen.ccnetBucketsSql()),
    row("mixture_reweight", TextDemos.mixtureReweightDemo(_, _), Smoke)(
      OracleGen.mixtureReweightSql()),
    row("cluster_balance", TextDemos.clusterBalance(_, _), Smoke)(OracleGen.clusterBalanceSql()),
    row("corpus_drift", TextDemos.corpusDrift(_, _), Smoke)(OracleGen.corpusDriftSql()),
    // smoke, r12: the contamination scan pair, the retrieval-eval join
    // ladder, the boilerplate extractor, the crawl funnel e2e, rank
    // fusion, the index append path, and PageRank at DOUBLE the demo's
    // rounds — lineage-checkpoint cost scales with rounds, the one knob
    // the 10x replication alone doesn't stress
    row("contamination_spans", TextDemos.contaminationSpansDemo(_, _), Smoke)(
      OracleGen.contamSpansSql()),
    row("contamination_scrub", TextDemos.contaminationScrubDemo(_, _), Smoke)(
      OracleGen.contamScrubSql()),
    row("retrieval_eval", TextDemos.retrievalEval(_, _), Smoke)(OracleGen.retrievalEvalSql()),
    // C65: rebuild the same synthetic page, split on the same
    // RE2-safe block pattern, score with the same exact-int metrics.
    // The corpus carries no <, >, & characters (checked), so the
    // unescape chain is the identity on both sides and the mirror
    // omits it.
    row("html_main_content", TextDemos.htmlMainContent(_, _), Smoke) {
      val split = graft.functions.Html.BlockSplit
      """WITH d AS (
        |  SELECT doc_id,
        |    '<div><a href="/">Start here</a> <a href="/a">About us</a> <a href="/c">Contact page</a> <a href="/l">Member login</a></div>'
        |    || '<p>' || substr(text, 1, CAST(n_chars // 2 AS INT))
        |    || '</p><p>' || substr(text, CAST(n_chars // 2 AS INT) + 1)
        |    || '</p>'
        |    || '<div><a href="/p">Privacy policy</a> <a href="/t">Terms of use</a></div>' AS page
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(page, 'SPLITRE'), x -> trim(x)), x -> x <> '') AS segs
        |  FROM d
        |), m AS (
        |  SELECT doc_id, list_transform(segs, s -> struct_pack(
        |    t := trim(regexp_replace(s, '<[^>]*>', '', 'g')),
        |    len := CAST(length(trim(regexp_replace(s, '<[^>]*>', '', 'g'))) AS BIGINT),
        |    lc := CAST(coalesce(list_sum(list_transform(
        |            regexp_extract_all(s, '(?is)<a[^>]*>(.*?)</a>', 1),
        |            a -> length(regexp_replace(a, '<[^>]*>', '', 'g')))), 0) AS BIGINT)
        |  )) AS blocks
        |  FROM b
        |), k AS (
        |  SELECT doc_id, blocks, list_filter(blocks, x ->
        |    x.len >= 25 AND CAST(x.lc AS DOUBLE) / greatest(CAST(x.len AS DOUBLE), 1.0) <= 0.33) AS kept
        |  FROM m
        |)
        |SELECT doc_id,
        |       -- empty kept-list: DuckDB array_to_string -> NULL, Spark array_join -> ''
        |       coalesce(array_to_string(list_transform(kept, x -> x.t), chr(10)), '') AS main_text,
        |       CAST(len(blocks) AS BIGINT) AS n_blocks,
        |       CAST(len(kept) AS BIGINT) AS n_kept
        |FROM k ORDER BY doc_id""".stripMargin.replace("SPLITRE", split)
    },
    row("crawl_ingest_e2e", TextDemos.crawlIngestE2e(_, _), Smoke)(OracleGen.crawlIngestE2eSql()),
    row("rrf_fusion", TextDemos.rrfFusion(_, _), Smoke)(OracleGen.rrfFusionSql()),
    row("bm25_index_append", TextDemos.bm25IndexAppend(_, _), Smoke, PlanPinned)(
      OracleGen.bm25IndexSql()),
    // smoke only: PageRank at 12 rounds = 2x the C68 demo, same
    // mutual-kNN graph (the bench row keeps the oracle-stable demo knob)
    Row("pagerank_2x_iters", (s, dir) => TextDemos.pagerankOverKnn(s, dir, iters = 12),
      None, Set(Smoke)),
    // smoke, r12: the prefix-filtered exact similarity join, the
    // two-phase budget cumsum, and bitext mining in its LSH-candidate
    // form — the exhaustive bitext_mine demo is quadratic BY DESIGN (a
    // candidate-slice operator; its doc says swap in ANN at scale), so
    // the smoke stresses the form that is claimed to scale
    row("setsim_join", TextDemos.setsimJoin(_, _), Smoke, PlanPinned)(OracleGen.setSimJoinSql()),
    row("budget_select", TextDemos.budgetSelectDemo(_, _), Smoke)(OracleGen.budgetSelectSql()),
    // the scale form gated at full probe width (≡ exhaustive — the
    // r12 provider-chain equivalence trick); probeBits=2 stays the
    // smoke surface
    // at full probe width the LSH candidate set is src x tgt exactly,
    // so the scale form answers the exhaustive mirror verbatim
    row("bitext_mine_ann", TextDemos.bitextMineAnnFull(_, _), Smoke, PlanPinned)(
      OracleGen.bitextMineSql()).withScaleForm(TextDemos.bitextMineAnn(_, _)),
    // smoke: the asymmetric containment join stresses the full-token B
    // side (the one prefix-filtered join whose posting lists are
    // unpruned)
    row("contain_join", TextDemos.containJoinDemo(_, _), Smoke, PlanPinned)(
      OracleGen.containJoinSql()),
    // smoke, r13: the three corpus-scale new rows — takedown rides the
    // full minhash+CC chain (replicated docs multiply near-dup clusters),
    // mink rides the bigram LM + per-doc rank cut, and the split-leakage
    // audit scans every k-gram window across the split
    row("takedown_propagate", TextDemos.takedownPropagateDemo(_, _), Smoke, PlanPinned)(
      OracleGen.takedownSql()),
    row("mink_score", TextDemos.minkScoreDemo(_, _), Smoke, PlanPinned)(OracleGen.minkSql(
      passage = TextDemos.MinkPassage)),
    row("split_leakage", TextDemos.splitLeakageDemo(_, _), Smoke)(OracleGen.splitLeakageSql()),
    // smoke, r15: A3's decision-only form — the payload-independence
    // claim needs a measured point (cost must track ROWS, never row
    // width)
    // A3's decision-only form: arg-min tuple per key, payload pruned
    row("dedup_first_key_hash", RefDemos.dedupFirstKeyHash(_, _), Smoke)(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
        |  FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),
    // smoke, r15: the graph family's second iterative member (same
    // per-round node-scale-shuffle claim as pagerank — measured, not
    // inherited)
    row("label_propagation", TextDemos.labelPropagationDemo(_, _), Smoke)(
      OracleGen.labelPropagationSql()),
    // smoke, r15: the novelty gate scans every k-gram window of both
    // corpus halves (the C122 claim is hash-dimension-join linearity);
    // its D15 sequential-admission form adds the archive join per
    // micro-batch; pref-pair prep is two quality scans + the prompt-dedup
    // window
    row("ngram_novelty", TextDemos.ngramNoveltyDemo(_, _), Smoke)(OracleGen.ngramNoveltySql()),
    row("stream_novelty_admit_parity", StreamParity.streamNoveltyAdmitParity(_, _),
      Smoke, Streaming)(OracleGen.streamNoveltyAdmitSql()),
    row("pref_pair_prep", TextDemos.prefPairPrepDemo(_, _), Smoke)(OracleGen.prefPairPrepSql()),
    // smoke, r16: scale-prove the r15 structural wins — the fused
    // Hamming recall sweep and the xxhash64-keyed truth self-join
    row("lsh_recall_curve", TextDemos.lshRecallCurve(_, _), Smoke, PlanPinned)(
      OracleGen.lshRecallCurveSql()),
    row("minhash_lsh_eval", TextDemos.minhashLshEval(_, _), Smoke, PlanPinned)(
      OracleGen.minhashLshEvalSql()),
    // smoke, r16: the LM family rides corpus-bigram-scale exchanges; the
    // fixed-width-key change is gated on THIS smoke (mink_score, the
    // third member, is already in the set)
    row("bigram_lm_score", TextDemos.bigramLmScore(_, _), Smoke)(OracleGen.bigramLmScoreSql()),
    row("kn_lm_score", TextDemos.knLmScoreDemo(_, _), Smoke)(OracleGen.knLmScoreSql()),

    // ---- the rest of the oracle-gated rows
    row("q1_pricing_summary", Analytics.q1PricingSummary(_, _))(
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  $drev AS sum_disc_price,
         |  ${davg("l_quantity")} AS avg_qty,
         |  ${davg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    row("q3_shipping_priority", Analytics.q3ShippingPriority(_, _))(oracleSqlQ3),
    row("q5_local_supplier", Analytics.q5LocalSupplier(_, _))(
      s"""SELECT n_name, $drev AS revenue
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),
    row("window_rank", Analytics.windowRank(_, _))(
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(RANK() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin),
    row("rollup_agg", Analytics.rollupAgg(_, _))(
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |       COALESCE(o_orderpriority, 'ALL') AS priority,
         |       COUNT(*) AS n_orders,
         |       ${dsum("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin),
    row("cube_agg", Analytics.cubeAgg(_, _))(
      s"""WITH t AS (
         |  SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |         o_totalprice
         |  FROM orders
         |)
         |SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |       COALESCE(o_year, -1) AS o_year,
         |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
         |       CAST(GROUPING(o_year) AS BIGINT) AS g_year,
         |       COUNT(*) AS n_orders,
         |       ${dsum("o_totalprice")} AS sum_price
         |FROM t
         |GROUP BY CUBE (o_orderstatus, o_year)
         |ORDER BY g_status, g_year, status, o_year""".stripMargin),
    row("json_extract", Analytics.jsonExtract(_, _))(
      """SELECT event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    row("time_window_agg", Analytics.timeWindowAgg(_, _))(timeWindowAggSql),
    row("moving_window_agg", Analytics.movingWindowAgg(_, _))(
      """SELECT event_id, user_id,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_hour,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_value_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    row("sessionize", Analytics.sessionize(_, _))(
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sessions
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    row("topk_per_group", Analytics.topkPerGroup(_, _))(
      """SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice, rn
        |FROM (
        |  SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY l_partkey
        |              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn
        |  FROM lineitem)
        |WHERE rn <= 2
        |ORDER BY l_partkey, rn""".stripMargin),
    row("semi_join_exists", Analytics.semiJoinExists(_, _))(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    row("anti_join_no_orders", Analytics.antiJoinNoOrders(_, _))(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin),
    row("distinct_count", Analytics.distinctCount(_, _))(
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    row("asof_join", Analytics.asofJoin(_, _))(oracleSqlAsof),
    row("asof_join_broadcast", Analytics.asofJoinBroadcast(_, _))(oracleSqlAsof),
    row("range_join_binned", Analytics.rangeJoinBinned(_, _))(
      """SELECT p_partkey, COUNT(*) AS n_matches
        |FROM part
        |JOIN (SELECT l_extendedprice / l_quantity AS unit_price FROM lineitem) l
        |  ON l.unit_price >= p_retailprice - 5 AND l.unit_price <= p_retailprice + 5
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin),
    // percentiles via the shared relational interpolation mirror —
    // bit-identical to Spark at every SF (quantile_cont differs by
    // 1 ulp, flipping round() at .xx5 boundaries)
    row("percentiles", Analytics.percentiles(_, _)) {
      val p = OracleGen.interpolatedPercentilesSql(
        "lineitem", "l_returnflag", "l_extendedprice",
        Seq("p50_price" -> 0.5, "p95_price" -> 0.95))
      s"""WITH p AS (
         |$p
         |), c AS (
         |  SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem GROUP BY l_returnflag
         |)
         |SELECT l_returnflag,
         |       FLOOR(p50_price * 100 + CAST(0.5 AS DOUBLE)) / 100 AS p50_price,
         |       FLOOR(p95_price * 100 + CAST(0.5 AS DOUBLE)) / 100 AS p95_price, n_rows
         |FROM p JOIN c USING (l_returnflag) ORDER BY l_returnflag""".stripMargin
    },
    row("pivot_status", Analytics.pivotStatus(_, _))(
      """SELECT o_orderpriority,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // sketch outputs are engine-specific; the comparable surface is the
    // exact values + in-bound booleans (TRUE here — a drifting sketch
    // makes the Spark side emit false and hash-mismatch)
    row("approx_sketches", Analytics.approxSketches(_, _)) {
      val p = OracleGen.interpolatedPercentilesSql(
        "lineitem", "l_returnflag", "l_extendedprice", Seq("_p50_raw" -> 0.5))
      s"""WITH p AS (
         |$p
         |), g AS (
         |  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
         |         COUNT(*) AS n_rows
         |  FROM lineitem GROUP BY l_returnflag
         |)
         |SELECT l_returnflag, exact_parts,
         |       FLOOR(_p50_raw * 100 + CAST(0.5 AS DOUBLE)) / 100 AS exact_p50,
         |       n_rows, TRUE AS parts_within_bound, TRUE AS p50_within_bound
         |FROM p JOIN g USING (l_returnflag) ORDER BY l_returnflag""".stripMargin
    },
    row("clean_normalize", RefDemos.cleanNormalize(_, _))(
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS event_date,
        |       COALESCE(TRY_CAST(props->>'$.k' AS BIGINT), 0) AS k,
        |       event_type = 'purchase' AS is_purchase,
        |       CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type_clean,
        |       value > 100.0 AS high_value
        |FROM events ORDER BY event_id""".stripMargin),
    row("parse_anchor", RefDemos.parseAnchor(_, _))(
      """WITH h AS (
        |  SELECT o_orderkey,
        |         '<a href=''https://example.org/o/' || CAST(o_orderkey AS VARCHAR) ||
        |         '''>Order &amp; ' || o_orderpriority || '</a>' AS html
        |  FROM orders
        |), u AS (
        |  SELECT o_orderkey, replace(html, '&amp;', '&') AS uh FROM h
        |), x AS (
        |  SELECT o_orderkey,
        |         regexp_extract(uh, '<a[^>]*href=[''"]([^''"]+)[''"]', 1) AS href,
        |         regexp_extract(uh, '<a[^>]*>(.*?)</a>', 1) AS inner_text, uh
        |  FROM u)
        |SELECT o_orderkey, href,
        |       regexp_replace(CASE WHEN inner_text <> '' THEN inner_text ELSE uh END,
        |                      '<[^>]*>', '', 'g') AS text
        |FROM x ORDER BY o_orderkey""".stripMargin),
    row("dedup_first_per_key", RefDemos.dedupFirstPerKey(_, _))(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
        |FROM (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
        |  FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),
    row("merge_max_groups", RefDemos.mergeMaxGroups(_, _))(
      """SELECT o_custkey, MAX(o_totalprice) AS max_o_totalprice,
        |       BOOL_OR(o_orderstatus = 'O') AS any_is_open,
        |       COUNT(*) AS n_rows,
        |       MAX(o_totalprice) > 250000.0 AS has_quota
        |FROM orders GROUP BY o_custkey
        |ORDER BY has_quota DESC, o_custkey""".stripMargin),
    row("diff_merge_carry", RefDemos.diffMergeCarry(_, _))(
      """WITH prev AS (
        |  SELECT c_custkey AS p_cust, c_nationkey AS p_nation, c_custkey * 1.5 AS lat
        |  FROM customer WHERE c_custkey % 3 <> 0
        |), l0 AS (SELECT p_cust, MIN(lat) AS lat0 FROM prev GROUP BY p_cust),
        |   l1 AS (SELECT p_nation, MIN(lat) AS lat1 FROM prev GROUP BY p_nation)
        |SELECT c.c_custkey, c.c_nationkey,
        |       COALESCE(l0.lat0, l1.lat1) AS lat,
        |       CASE WHEN l0.lat0 IS NOT NULL THEN 'c_custkey'
        |            WHEN l1.lat1 IS NOT NULL THEN 'c_nationkey' END AS matched_by,
        |       COALESCE(l0.lat0, l1.lat1) IS NULL AS needs_recompute
        |FROM customer c
        |LEFT JOIN l0 ON c.c_custkey = l0.p_cust
        |LEFT JOIN l1 ON c.c_nationkey = l1.p_nation
        |ORDER BY c.c_custkey""".stripMargin),
    row("fallback_resolve", RefDemos.fallbackResolve(_, _))(
      s"""WITH known AS (
         |  SELECT p_partkey AS k_partkey, p_brand, p_retailprice FROM part WHERE p_partkey % 5 = 0
         |), grp AS (
         |  SELECT p_brand, ${davg("p_retailprice")} AS grp_avg FROM known GROUP BY p_brand
         |), allavg AS (
         |  SELECT ${davg("p_retailprice")} AS glob_avg FROM known
         |), facts AS (
         |  SELECT l.l_partkey, p.p_brand FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |), r AS (
         |  SELECT COALESCE(k.p_retailprice, g.grp_avg, gl.glob_avg) AS resolved,
         |         CASE WHEN k.p_retailprice IS NOT NULL THEN 'exact'
         |              WHEN g.grp_avg IS NOT NULL THEN 'group'
         |              ELSE 'global' END AS resolution
         |  FROM facts f
         |  LEFT JOIN known k ON f.l_partkey = k.k_partkey
         |  LEFT JOIN grp g ON f.p_brand = g.p_brand
         |  CROSS JOIN allavg gl)
         |SELECT resolution, COUNT(*) AS n, ${dsum("resolved")} AS sum_resolved
         |FROM r GROUP BY resolution ORDER BY resolution""".stripMargin),
    row("phone_domain_norm", RefDemos.phoneDomainNorm(_, _))(
      """WITH s AS (
        |  SELECT c_custkey,
        |         '(0' || CAST(c_custkey % 10 AS VARCHAR) || ') 555-' || CAST(c_custkey AS VARCHAR) AS phone,
        |         CASE WHEN c_nationkey % 3 = 0
        |                THEN 'https://www.example' || CAST(c_nationkey AS VARCHAR) || '.org/page'
        |              WHEN c_nationkey % 3 = 1
        |                THEN 'http://sub.test' || CAST(c_nationkey AS VARCHAR) || '.net/a/b'
        |              ELSE 'not a url' END AS url
        |  FROM customer)
        |SELECT c_custkey,
        |       regexp_replace(phone, '[^0-9]', '', 'g') AS norm_phone,
        |       regexp_extract(url, '^https?://(?:www\.)?([^/]+)', 1) AS domain
        |FROM s ORDER BY c_custkey""".stripMargin),
    row("addr_normalize", RefDemos.addrNormalize(_, _))(
      """WITH s AS (
        |  SELECT c_custkey,
        |         CAST(c_custkey % 900 + 100 AS VARCHAR) || ' 台北市中山區中山北路' ||
        |         CAST(c_custkey % 50 + 1 AS VARCHAR) || '巷' ||
        |         CAST(c_nationkey % 9 + 1 AS VARCHAR) || '弄' ||
        |         CAST(c_custkey % 200 + 1 AS VARCHAR) || '號' ||
        |         CAST(c_custkey % 10 + 1 AS VARCHAR) || '樓 (備註)' AS address_raw
        |  FROM customer
        |), n1 AS (
        |  SELECT s.c_custkey, s.address_raw,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(address_raw,
        |           '^\s*\d{3,5}[-\s]?', ''),
        |           '（[^）]*）|\([^)]*\)', '', 'g'),
        |           '\s+', '', 'g'),
        |           '台', '臺', 'g') AS folded
        |  FROM s
        |), n2 AS (
        |  SELECT c_custkey, address_raw, folded,
        |         regexp_extract(folded, '^([^號]*號)', 1) AS cut
        |  FROM n1)
        |SELECT c_custkey, address_raw,
        |       CASE WHEN cut <> '' THEN cut ELSE folded END AS address_norm
        |FROM n2 ORDER BY c_custkey""".stripMargin),
    row("zh_numeral_arabic", RefDemos.zhNumeralArabic(_, _)) {
      val digitCase = (e: String) =>
        s"(CASE $e WHEN 1 THEN '一' WHEN 2 THEN '二' WHEN 3 THEN '三' WHEN 4 THEN '四' WHEN 5 THEN '五' " +
        s"WHEN 6 THEN '六' WHEN 7 THEN '七' WHEN 8 THEN '八' WHEN 9 THEN '九' ELSE '' END)"
      s"""WITH base AS (
         |  SELECT c_custkey, CAST(c_custkey % 99 + 1 AS INT) AS n FROM customer
         |), z AS (
         |  SELECT c_custkey, n,
         |    (CASE WHEN n // 10 = 0 THEN '' WHEN n // 10 = 1 THEN '十'
         |          ELSE ${digitCase("n // 10")} || '十' END) ||
         |    (CASE WHEN n % 10 = 0 THEN '' ELSE ${digitCase("n % 10")} END) ||
         |    '巷12號' AS street_zh
         |  FROM base)
         |SELECT c_custkey, street_zh, CAST(n AS VARCHAR) || '巷12號' AS street_arabic
         |FROM z ORDER BY c_custkey""".stripMargin
    },
    row("validate_constraints", RefDemos.validateConstraints(_, _))(
      """SELECT * FROM (
        |  SELECT 'discount_range' AS rule, CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM lineitem
        |  UNION ALL
        |  SELECT 'quantity_negative', CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'quantity_over_40', CAST(SUM(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'returnflag_enum', CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'shipdate_null', CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |) ORDER BY rule""".stripMargin),
    // mirrors the rules SchemaRules.compile derives from
    // RefDemos.clinicSchemaJson over the same synthesized clinic rows
    row("schema_validate", RefDemos.schemaValidate(_, _))(
      """WITH c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 <> 0 THEN '臺北市' END AS county,
        |    CASE WHEN c_custkey % 23 <> 0 THEN 'org' || CAST(c_custkey % 50 AS VARCHAR) END AS org_name,
        |    'addr' || CAST(c_custkey AS VARCHAR) AS address,
        |    CASE WHEN c_custkey % 17 = 0 THEN -2 ELSE CAST(c_custkey % 9 AS INT) END AS this_week,
        |    CASE WHEN c_custkey % 29 <> 0 THEN
        |      CASE WHEN c_custkey % 13 = 0 THEN -1 ELSE CAST(c_custkey % 5 AS INT) END END AS in_4_weeks,
        |    c_custkey % 2 = 0 AS has_quota,
        |    CASE WHEN c_custkey % 19 = 0 THEN 'manual'
        |         WHEN c_custkey % 7 = 0 THEN NULL
        |         WHEN c_custkey % 3 = 0 THEN 'opencage'
        |         WHEN c_custkey % 3 = 1 THEN 'nominatim'
        |         ELSE 'centroid' END AS source
        |  FROM customer
        |)
        |SELECT * FROM (
        |  SELECT 'address_required' AS rule, CAST(SUM(CASE WHEN address IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM c
        |  UNION ALL
        |  SELECT 'county_required', CAST(SUM(CASE WHEN county IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 'has_quota_required', CAST(SUM(CASE WHEN has_quota IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 'in_4_weeks_minimum', CAST(SUM(CASE WHEN in_4_weeks IS NOT NULL AND in_4_weeks < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 'in_4_weeks_required', CAST(SUM(CASE WHEN in_4_weeks IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 'org_name_required', CAST(SUM(CASE WHEN org_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 'source_enum', CAST(SUM(CASE WHEN source IS NOT NULL AND source NOT IN ('opencage','nominatim','centroid') THEN 1 ELSE 0 END) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 'this_week_minimum', CAST(SUM(CASE WHEN this_week IS NOT NULL AND this_week < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM c
        |) ORDER BY rule""".stripMargin),
    row("check_total", RefDemos.checkTotal(_, _))(
      """WITH d AS (
        |  SELECT o_custkey,
        |         COUNT(*) OVER (PARTITION BY o_custkey) +
        |         CASE WHEN o_custkey % 7 = 0 THEN 1 ELSE 0 END AS declared_total
        |  FROM orders)
        |SELECT o_custkey, COUNT(*) AS actual_total,
        |       CAST(MAX(declared_total) AS BIGINT) AS declared_total,
        |       CAST(MAX(declared_total) - COUNT(*) AS BIGINT) AS diff
        |FROM d GROUP BY o_custkey
        |HAVING COUNT(*) <> MAX(declared_total)
        |ORDER BY o_custkey""".stripMargin),
    row("check_total_fix", RefDemos.checkTotalFix(_, _))(
      """WITH d AS (
        |  SELECT o_custkey,
        |         COUNT(*) OVER (PARTITION BY o_custkey)
        |           + CASE WHEN o_custkey % 7 = 0 THEN 1 ELSE 0 END AS declared_total,
        |         COUNT(*) OVER (PARTITION BY o_custkey) AS actual
        |  FROM orders
        |), f AS (
        |  SELECT CASE WHEN declared_total IS NULL OR declared_total <> actual
        |              THEN actual ELSE declared_total END AS fixed_total,
        |         (declared_total IS NULL OR declared_total <> actual) AS was_fixed
        |  FROM d
        |)
        |SELECT was_fixed, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(fixed_total) AS BIGINT) AS sum_total
        |FROM f GROUP BY was_fixed ORDER BY was_fixed""".stripMargin),
    row("dedup_exact_docs", RefDemos.dedupExactDocs(_, _))(
      """SELECT md5(text) AS text_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin),
    row("geocode_street_centroid", RefDemos.geocodeStreetCentroid(_, _))(
      OracleGen.streetCentroidSql()),
    row("geocode_validate", RefDemos.geocodeValidate(_, _))(OracleGen.geocodeValidateSql()),
    row("geocode_provider_chain", RefDemos.geocodeProviderChain(_, _))(
      OracleGen.geocodeProviderChainSql()),
    row("ref_pipeline_e2e", RefDemos.refPipelineE2e(_, _))(
      """WITH h AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderstatus,
        |    '<a href=''https://org.example/c/' || CAST(o_custkey AS VARCHAR) ||
        |    '''>Org &amp; ' || o_orderstatus || '</a>' AS html
        |  FROM orders
        |), u AS (
        |  SELECT *, replace(html, '&amp;', '&') AS uh FROM h
        |), cleaned AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |    regexp_replace(CASE WHEN regexp_extract(uh, '<a[^>]*>(.*?)</a>', 1) <> ''
        |      THEN regexp_extract(uh, '<a[^>]*>(.*?)</a>', 1) ELSE uh END,
        |      '<[^>]*>', '', 'g') AS org_name,
        |    regexp_extract(uh, '<a[^>]*href=[''"]([^''"]+)[''"]', 1) AS org_url,
        |    o_orderstatus = 'O' AS is_open
        |  FROM u
        |), deduped AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |                                 ORDER BY o_orderkey) AS rn
        |    FROM cleaned) WHERE rn = 1
        |), merged AS (
        |  SELECT o_custkey, MAX(o_totalprice) AS max_price, BOOL_OR(is_open) AS any_open,
        |         MAX(o_totalprice) > 250000.0 AS has_quota
        |  FROM deduped GROUP BY o_custkey
        |), prev AS (
        |  SELECT c_custkey AS p_cust, c_nationkey AS p_nation, c_custkey * 1.5 AS lat
        |  FROM customer WHERE c_custkey % 3 <> 0
        |), l0 AS (SELECT p_cust, MIN(lat) AS lat0 FROM prev GROUP BY p_cust),
        |   l1 AS (SELECT p_nation, MIN(lat) AS lat1 FROM prev GROUP BY p_nation),
        |today AS (
        |  SELECT m.o_custkey, c.c_nationkey, m.max_price, m.has_quota
        |  FROM merged m JOIN customer c ON m.o_custkey = c.c_custkey
        |), carried AS (
        |  SELECT t.*, CASE WHEN l0.lat0 IS NOT NULL THEN 'o_custkey'
        |                   WHEN l1.lat1 IS NOT NULL THEN 'c_nationkey' END AS matched_by
        |  FROM today t
        |  LEFT JOIN l0 ON t.o_custkey = l0.p_cust
        |  LEFT JOIN l1 ON t.c_nationkey = l1.p_nation
        |)
        |SELECT has_quota, matched_by, COUNT(*) AS n_orgs,
        |       CAST(SUM(CAST(max_price AS DECIMAL(18,4))) AS DOUBLE) AS sum_max_price
        |FROM carried GROUP BY has_quota, matched_by
        |ORDER BY has_quota DESC, matched_by""".stripMargin),
    row("token_count", TextDemos.tokenCount(_, _))(
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    row("quality_score", TextDemos.qualityScore(_, _))(
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, text, CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS DOUBLE) AS stop_hits,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha_hits
        |  FROM t)
        |SELECT doc_id,
        |  0.4 * least(n_tok / 100.0, 1.0)
        |  + 0.3 * (CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0.0 END)
        |  + 0.3 * (CASE WHEN length(text) > 0 THEN alpha_hits / CAST(length(text) AS DOUBLE) ELSE 0.0 END) AS score
        |FROM m ORDER BY doc_id""".stripMargin),
    row("lang_id", TextDemos.langId(_, _)) {
      val profiles = graft.functions.Text.LangProfiles
      val hitCols = profiles.map { case (lang, stops) =>
        val list = stops.map(s => s"'$s'").mkString("[", ",", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($list, x))) AS BIGINT) AS h_$lang"
      }.mkString(",\n    ")
      val great = profiles.map(p => s"h_${p._1}").mkString("greatest(", ", ", ")")
      val cases = profiles.map { case (lang, _) => s"WHEN h_$lang = mx THEN '$lang'" }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         |  FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    $hitCols
         |  FROM t
         |), g AS (SELECT *, $great AS mx FROM h)
         |SELECT doc_id,
         |  CASE WHEN mx = 0 THEN 'und' $cases END AS pred_lang,
         |  mx AS profile_hits
         |FROM g ORDER BY doc_id""".stripMargin
    },
    row("token_stats_by_lang", TextDemos.tokenStatsByLang(_, _)) {
      // the lang_id CTE chain, rolled up per (pred_lang, source)
      val profiles = graft.functions.Text.LangProfiles
      val hitCols = profiles.map { case (lang, stops) =>
        val list = stops.map(s => s"'$s'").mkString("[", ",", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($list, x))) AS BIGINT) AS h_$lang"
      }.mkString(",\n    ")
      val great = profiles.map(p => s"h_${p._1}").mkString("greatest(", ", ", ")")
      val cases = profiles.map { case (lang, _) => s"WHEN h_$lang = mx THEN '$lang'" }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, source, text,
         |    $hitCols
         |  FROM t
         |), g AS (SELECT *, $great AS mx FROM h
         |), lbl AS (
         |  SELECT source,
         |    CASE WHEN mx = 0 THEN 'und' $cases END AS pred_lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS toks,
         |    CAST(length(text) AS BIGINT) AS chars
         |  FROM g
         |), agg AS (
         |  SELECT pred_lang, source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |    CAST(SUM(chars) AS BIGINT) AS total_chars
         |  FROM lbl GROUP BY pred_lang, source
         |)
         |SELECT *, CASE WHEN total_tokens > 0
         |  THEN CAST(total_chars AS DOUBLE) / total_tokens ELSE 0.0 END AS chars_per_token
         |FROM agg ORDER BY pred_lang, source""".stripMargin
    },
    row("lang_confusion", TextDemos.langConfusionDemo(_, _))(OracleGen.langConfusionSql()),
    row("doc_fingerprint", TextDemos.docFingerprint(_, _))(
      """SELECT doc_id,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(text, '.'), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 131 + c) % 1000000007) AS BIGINT) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
    row("ngram_jaccard", TextDemos.ngramJaccard(_, _))(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
        |  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1)
        |SELECT id_a, id_b,
        |  CAST(len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS BIGINT) AS n_common,
        |  CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS BIGINT) AS n_union,
        |  CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) > 0
        |       THEN CAST(len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS DOUBLE)
        |            / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS BIGINT)
        |       ELSE 0.0 END AS jaccard
        |FROM p ORDER BY id_a""".stripMargin),
    row("embed_cosine_topk", TextDemos.embedCosineTopk(_, _)) {
      def lsum(e: String) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $e), (a, b) -> a + b)"
      val dot = lsum("list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))")
      val nq = lsum("list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))")
      val nc = lsum("list_transform(range(1, len(cv)+1), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
         |x AS (
         |  SELECT query_id, cand_id,
         |    $dot / (sqrt($nq) * sqrt($nc)) AS sim
         |  FROM q, c),
         |r AS (SELECT query_id, cand_id, sim,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank
         |      FROM x)
         |SELECT query_id, cand_id, round(sim, 6) AS sim, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    row("ann_lsh_topk", TextDemos.annLshTopk(_, _))(OracleGen.annLshSql()),
    row("dedup_minhash_lsh", TextDemos.dedupMinhashLsh(_, _))(OracleGen.minhashLshSql()),
    row("setsim_join_rs", TextDemos.setsimJoinRs(_, _), PlanPinned)(OracleGen.setSimJoinRsSql()),
    row("bitext_mine", TextDemos.bitextMineDemo(_, _), PlanPinned)(OracleGen.bitextMineSql()),
    row("anchor_text_agg", TextDemos.anchorAggDemo(_, _))(OracleGen.anchorAggSql()),
    row("matryoshka_eval", TextDemos.matryoshkaEvalDemo(_, _))(OracleGen.matryoshkaEvalSql()),
    row("robots_gate", TextDemos.robotsGateDemo(_, _))(OracleGen.robotsGateSql()),
    row("simhash_eval", TextDemos.simhashEval(_, _))(OracleGen.simhashEvalSql()),
    row("kcenter_select", TextDemos.kcenterSelectDemo(_, _))(OracleGen.kcenterSelectSql()),
    row("char_entropy", TextDemos.charEntropy(_, _))(OracleGen.charEntropySql()),
    row("bpe_fertility", TextDemos.bpeFertility(_, _))(OracleGen.bpeFertilitySql()),
    row("sft_validate", TextDemos.sftValidateDemo(_, _))(OracleGen.sftValidateSql()),
    row("tokenizer_entropy", TextDemos.tokenizerEntropy(_, _))(OracleGen.tokenizerEntropySql()),
    row("ivf_recall_curve", TextDemos.ivfRecallCurve(_, _), PlanPinned)(
      OracleGen.ivfRecallCurveSql()),
    row("dup_rate_by_source", TextDemos.dupRateBySource(_, _))(OracleGen.dupRateBySourceSql()),
    row("shard_balance", TextDemos.shardBalanceDemo(_, _), PlanPinned)(OracleGen.shardBalanceSql()),
    row("weighted_sample", TextDemos.weightedSampleDemo(_, _))(OracleGen.weightedSampleSql()),
    row("unimax_mix", TextDemos.unimaxMixDemo(_, _))(OracleGen.unimaxSql()),
    row("unimax_apply", TextDemos.unimaxApplyDemo(_, _), PlanPinned)(OracleGen.unimaxApplySql()),
    row("epoch_plan", TextDemos.epochPlanDemo(_, _))(OracleGen.epochPlanSql()),
    row("stratified_split", TextDemos.stratifiedSplitDemo(_, _))(OracleGen.stratifiedSplitSql()),
    row("mojibake_score", TextDemos.mojibakeScoreDemo(_, _))(OracleGen.mojibakeSql()),
    row("kanon_generalize", TextDemos.kanonGeneralizeDemo(_, _))(OracleGen.kanonSql()),
    row("dp_release", TextDemos.dpReleaseDemo(_, _))(OracleGen.dpReleaseSql()),
    row("span_corrupt", TextDemos.spanCorruptDemo(_, _))(OracleGen.spanCorruptSql()),
    row("skew_diagnose", TextDemos.skewDiagnoseDemo(_, _))(OracleGen.skewDiagnoseSql()),
    row("curriculum_order", TextDemos.curriculumOrderDemo(_, _), PlanPinned)(
      OracleGen.curriculumSql()),
    row("mojibake_repair", TextDemos.mojibakeRepairDemo(_, _))(OracleGen.mojibakeRepairSql()),
    row("packing_sweep", TextDemos.packingSweepDemo(_, _))(OracleGen.packingSweepSql()),
    row("vocab_coverage", TextDemos.vocabCoverageDemo(_, _))(OracleGen.vocabCoverageSql()),
    row("sft_pack", TextDemos.sftPackDemo(_, _), PlanPinned)(OracleGen.sftPackSql()),
    row("dedup_clusters", TextDemos.dedupClusters(_, _))(OracleGen.dedupClustersSql()),
    row("cluster_representative", TextDemos.clusterRepresentative(_, _), PlanPinned)(
      OracleGen.clusterRepresentativeSql()),
    row("pmi_bigrams", TextDemos.pmiBigrams(_, _))(
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM t WHERE len(toks) >= 2
        |), pc AS (
        |  SELECT bigram, COUNT(*) AS c_ab FROM bg GROUP BY bigram HAVING COUNT(*) >= 5
        |), pairs AS (
        |  SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2, c_ab
        |  FROM pc
        |), wc AS (
        |  SELECT w, COUNT(*) AS c_w FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
        |), tot AS (
        |  SELECT CAST(SUM(c_w) AS BIGINT) AS n_total FROM wc
        |)
        |SELECT p.w1, p.w2, p.c_ab,
        |       CAST(p.c_ab * tt.n_total AS DOUBLE) / CAST(a.c_w * b.c_w AS DOUBLE) AS pmi_ratio
        |FROM pairs p
        |JOIN wc a ON a.w = p.w1
        |JOIN wc b ON b.w = p.w2
        |CROSS JOIN tot tt
        |ORDER BY pmi_ratio DESC, w1, w2
        |LIMIT 25""".stripMargin),
    row("dataset_card", TextDemos.datasetCard(_, _))(
      """WITH per AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS sum_tokens,
        |    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |    CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |  FROM documents GROUP BY source, lang
        |), tot AS (
        |  SELECT CAST(SUM(sum_tokens) AS BIGINT) AS corpus_tokens FROM per
        |)
        |SELECT source, lang, n_docs, sum_tokens, min_chars, max_chars, avg_chars,
        |       CAST(sum_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE) AS token_share
        |FROM per CROSS JOIN tot
        |ORDER BY source, lang""".stripMargin),
    row("rand_proj_reduce", TextDemos.randProjReduce(_, _))(OracleGen.randProjSql()),
    // projection-only mirror against the demo-recorded fit (the fit
    // itself is PcaSpec-gated; Verify dumps oracle SQL after queries
    // run, so the interpolated basis is the one the parquet used)
    row("pca_project", TextDemos.pcaProjectOracle(_, _))(OracleGen.pcaProjectSql()),
    row("dedup_simhash", TextDemos.dedupSimhash(_, _))(OracleGen.simhashSql()),
    // C12: the fixture derivation (dims/format/corrupt plants from the
    // id) is SQL-expressible; the byte-level IHDR/SOF parse it gates is
    // the Spark side's real work (the warc_ingest discipline)
    row("image_dims", Multimodal.imageDimsDemo(_, _))(
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 97 = 0 THEN 'unknown'
        |            WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS detected,
        |       CAST(CASE WHEN doc_id % 97 = 0 THEN -1 ELSE 1 + doc_id % 29 END AS INT) AS width,
        |       CAST(CASE WHEN doc_id % 97 = 0 THEN -1 ELSE 1 + doc_id % 17 END AS INT) AS height
        |FROM documents ORDER BY media_id""".stripMargin),
    // C12: same discipline for the MP4 box walk — duration/tracks/codecs
    // derive from the id relationally; the byte-level moov walk is the
    // Spark side's real work
    row("video_meta", Multimodal.videoMetaDemo(_, _))(
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 97 = 0 THEN 'unknown' ELSE 'mp4' END AS container,
        |       CASE WHEN doc_id % 97 = 0 THEN '' ELSE 'isom' END AS major_brand,
        |       CASE WHEN doc_id % 97 = 0 THEN -1.0
        |            ELSE CAST(1 + doc_id % 7 AS DOUBLE) END AS duration_sec,
        |       CAST(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 + doc_id % 3 END AS INT) AS n_tracks,
        |       CASE WHEN doc_id % 97 = 0 THEN ''
        |            ELSE array_to_string(list_transform(range(CAST(1 + doc_id % 3 AS BIGINT)),
        |                 t -> CASE (doc_id + t) % 3 WHEN 0 THEN 'avc1'
        |                      WHEN 1 THEN 'hvc1' ELSE 'mp4v' END), ',') END AS codecs
        |FROM documents ORDER BY media_id""".stripMargin),
    row("embed_near_dup", TextDemos.embedNearDup(_, _))(OracleGen.embedNearDupSql()),
    row("ivf_centroids", TextDemos.ivfCentroids(_, _))(OracleGen.ivfCentroidsSql()),
    row("ivf_assign", TextDemos.ivfAssign(_, _))(OracleGen.ivfAssignSql()),
    row("ivf_topk", TextDemos.ivfTopk(_, _))(OracleGen.ivfTopkSql()),
    row("pq_encode", TextDemos.pqEncodeDemo(_, _))(OracleGen.pqEncodeSql()),
    row("pq_train", TextDemos.pqTrainDemo(_, _))(OracleGen.pqTrainSql()),
    row("pq_topk", TextDemos.pqTopkDemo(_, _))(OracleGen.pqTopkSql()),
    row("ivfpq_rerank", TextDemos.ivfPqRerankDemo(_, _))(OracleGen.ivfPqRerankSql()),
    row("bpe_train", TextDemos.bpeTrain(_, _))(OracleGen.bpeTrainSql()),
    row("bpe_encode", TextDemos.bpeEncode(_, _))(OracleGen.bpeEncodeSql()),
    row("bm25_index", TextDemos.bm25Index(_, _), PlanPinned)(OracleGen.bm25IndexSql()),
    // append ≡ from-scratch: the incremental row answers to the SAME
    // full-corpus index SQL, so DuckDB itself checks the equivalence
    // (and compact ≡ append ≡ from-scratch: same SQL again). Its
    // compaction is side-effecting artifact I/O at build time, so the
    // pinned plan is the read-back path (postings scan + verdict joins);
    // the lifecycle cost is priced by the bm25 family ladder (SURVEY §2
    // C114)
    row("bm25_index_compact", TextDemos.bm25IndexCompact(_, _), PlanPinned)(
      OracleGen.bm25IndexSql()),
    row("hard_negatives", TextDemos.hardNegatives(_, _))(OracleGen.hardNegativesSql()),
    row("text_canonicalize", TextDemos.textCanonicalize(_, _))(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
        |    '[^\pL\pN\s]+', ' ', 'g'), '\s+', ' ', 'g')) AS canon,
        |  md5(trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
        |    '[^\pL\pN\s]+', ' ', 'g'), '\s+', ' ', 'g'))) AS canon_key
        |FROM documents ORDER BY doc_id""".stripMargin),
    row("mmr_rerank", TextDemos.mmrRerank(_, _))(OracleGen.mmrRerankSql()),
    row("source_quality_gate", TextDemos.sourceQualityGate(_, _))(OracleGen.sourceQualityGateSql()),
    row("url_canonicalize", TextDemos.urlCanonicalize(_, _))(OracleGen.urlCanonicalizeSql()),
    row("group_sample", TextDemos.groupSampleDemo(_, _))(OracleGen.groupSampleSql()),
    row("doc_freq_filter", TextDemos.docFreqFilter(_, _))(
      """WITH toks AS (
        |  SELECT doc_id, u.i - 1 AS pos, t.toks[u.i] AS tok
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM documents) t
        |  CROSS JOIN UNNEST(range(1, len(t.toks) + 1)) AS u(i)
        |), df AS (
        |  SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
        |), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |kept AS (
        |  SELECT t.doc_id,
        |         string_agg(t.tok, ' ' ORDER BY t.pos) AS filtered_text,
        |         COUNT(*) AS n_kept
        |  FROM toks t JOIN df ON t.tok = df.tok CROSS JOIN nd
        |  WHERE df.df <= nd.n_docs * 0.6
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |       COALESCE(k.filtered_text, '') AS filtered_text,
        |       COALESCE(k.n_kept, 0) AS n_kept
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    row("tfidf_top_terms", TextDemos.tfidfTopTerms(_, _))(
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
        |), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |         round(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / df.df), 6) AS score
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN nd
        |), ranked AS (
        |  SELECT doc_id, tok, score,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |              ORDER BY score DESC, tok) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, tok, score, rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    row("repetition_score", TextDemos.repetitionScore(_, _))(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |         ELSE CAST([] AS VARCHAR[]) END AS sh
        |  FROM t
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(sh) AS BIGINT) AS n_shingles,
        |    CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
        |    CASE WHEN len(sh) > 0
        |         THEN CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh)
        |         ELSE 0.0 END AS dup_ratio
        |  FROM s)
        |SELECT doc_id, n_shingles, n_distinct, dup_ratio, dup_ratio > 0.5 AS flagged
        |FROM m ORDER BY doc_id""".stripMargin),
    row("hash_split", TextDemos.hashSplit(_, _))(
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents
        |), a AS (
        |  SELECT doc_id,
        |    CASE WHEN bucket < 80 THEN 'train'
        |         WHEN bucket < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
        |FROM a GROUP BY split ORDER BY split""".stripMargin),
    row("pii_scrub", TextDemos.piiScrub(_, _))(
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example or call 09123456' || CAST(doc_id AS VARCHAR) ||
        |    ' or visit https://site' || CAST(doc_id AS VARCHAR) || '.example/page now' AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(dirty,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(dirty, 'https?://[^\s]+')) AS BIGINT) AS n_urls
        |FROM d ORDER BY doc_id""".stripMargin),
    row("contamination_check", TextDemos.contaminationCheck(_, _))(
      OracleGen.contaminationCheckSql()),
    // C71: the diff states are pure presence/equality logic, so the
    // oracle recomputes them with a FULL OUTER JOIN on the raw text
    // (the Spark side compares 128-bit content hashes - equivalent)
    row("corpus_diff", TextDemos.corpusDiff(_, _))(
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN text || ' v2-edit' ELSE text END AS text
        |       FROM documents WHERE doc_id % 5 <> 0),
        |d AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |        CASE WHEN v1.doc_id IS NULL THEN 'added'
        |             WHEN v2.doc_id IS NULL THEN 'removed'
        |             WHEN v1.text = v2.text THEN 'unchanged'
        |             ELSE 'changed' END AS status
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id, status FROM d
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS doc_id,
        |       'total:' || status || '=' || COUNT(*) AS status
        |FROM d GROUP BY status
        |ORDER BY doc_id, status""".stripMargin),
    row("c4_filters", TextDemos.c4FiltersDemo(_, _))(OracleGen.c4FiltersSql()),
    row("sequence_pack", TextDemos.sequencePack(_, _))(OracleGen.sequencePackSql()),
    row("url_blocklist_filter", TextDemos.urlBlocklistFilter(_, _))(
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    'https://www.' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |), blocked(domain) AS (
        |  VALUES ('src3.example.com'), ('src7.example.com'), ('src11.example.com')
        |)
        |SELECT doc_id, source, url FROM docs
        |WHERE regexp_extract(url, '^https?://(?:www\.)?([^/]+)', 1)
        |      NOT IN (SELECT domain FROM blocked)
        |ORDER BY doc_id""".stripMargin),
    row("outlier_bounds_filter", TextDemos.outlierBoundsFilter(_, _)) {
      val bounds = OracleGen.interpolatedPercentilesSql(
        "(SELECT 1 AS _g, n_tokens FROM m)", "_g", "n_tokens",
        Seq("lo_bound" -> 0.05, "hi_bound" -> 0.95))
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), b AS (
         |$bounds
         |)
         |SELECT m.doc_id, m.n_tokens, b.lo_bound, b.hi_bound,
         |       (CAST(m.n_tokens AS DOUBLE) < b.lo_bound OR
         |        CAST(m.n_tokens AS DOUBLE) > b.hi_bound) AS is_outlier
         |FROM m CROSS JOIN b
         |ORDER BY m.doc_id""".stripMargin
    },
    row("line_dedup", TextDemos.lineDedup(_, _))(
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |         THEN 'subscribe to our newsletter accept all cookies now ' || text
        |         ELSE text END AS text
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, u.i - 1 AS pos, t.toks[u.i] AS tok
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM docs) t
        |  CROSS JOIN UNNEST(range(1, len(t.toks) + 1)) AS u(i)
        |), chunks AS (
        |  SELECT doc_id, CAST(FLOOR(pos / 8) AS BIGINT) AS ck,
        |         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        |  FROM toks GROUP BY doc_id, CAST(FLOOR(pos / 8) AS BIGINT)
        |), hashed AS (
        |  SELECT doc_id, ck, chunk_text,
        |         ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT AS h
        |  FROM chunks
        |), cdf AS (
        |  SELECT h, COUNT(*) AS cdf
        |  FROM (SELECT DISTINCT doc_id, h FROM hashed) GROUP BY h
        |), kept AS (
        |  SELECT hh.doc_id,
        |         string_agg(hh.chunk_text, ' ' ORDER BY hh.ck) AS clean_text,
        |         COUNT(*) AS n_chunks_kept
        |  FROM hashed hh JOIN cdf ON hh.h = cdf.h
        |  WHERE cdf.cdf <= 2
        |  GROUP BY hh.doc_id
        |)
        |SELECT d.doc_id,
        |       COALESCE(k.clean_text, '') AS clean_text,
        |       COALESCE(k.n_chunks_kept, 0) AS n_chunks_kept
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    row("dup_span_scrub", TextDemos.dupSpanScrub(_, _))(OracleGen.dupSpanScrubSql()),
    row("dedup_canonicalize", TextDemos.dedupCanonicalize(_, _), PlanPinned)(
      OracleGen.dedupCanonicalizeSql()),
    row("training_shuffle", TextDemos.trainingShuffle(_, _))(OracleGen.trainingShuffleSql()),
    row("training_prep_e2e", TextDemos.trainingPrepTail(_, _))(OracleGen.trainingPrepSql()),
    row("dsir_score", TextDemos.dsirScore(_, _))(OracleGen.dsirScoreSql()),
    row("winnow_fingerprint", TextDemos.winnowFingerprint(_, _), PlanPinned)(
      OracleGen.winnowFingerprintSql()),
    row("scd2_history", Analytics.scd2History(_, _))(
      """WITH log AS (
        |  SELECT user_id, ts, MIN(event_type) AS status
        |  FROM events GROUP BY user_id, ts
        |), marked AS (
        |  SELECT user_id, ts, status,
        |         LAG(status) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM log
        |), changes AS (
        |  SELECT user_id, status, ts AS valid_from FROM marked
        |  WHERE prev IS DISTINCT FROM status
        |)
        |SELECT user_id, status, valid_from,
        |       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
        |       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL) AS is_current
        |FROM changes
        |ORDER BY user_id, valid_from""".stripMargin),
    row("bloom_semi_join", Analytics.bloomSemiJoinDemo(_, _))(
      s"""SELECT l_returnflag, COUNT(*) AS n_lines, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin),
    row("lm_score", TextDemos.lmScore(_, _))(
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
        |), ctf AS (
        |  SELECT tok, SUM(tf) AS ctf FROM tf GROUP BY tok
        |), tot AS (SELECT SUM(ctf) AS n_total FROM ctf),
        |lp AS (
        |  SELECT t.doc_id, t.tf,
        |         CAST(round(ln(CAST(c.ctf AS DOUBLE) / tot.n_total), 6)
        |              AS DECIMAL(27,6)) AS lp
        |  FROM tf t JOIN ctf c ON t.tok = c.tok CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |       CAST(SUM(lp * tf) AS DOUBLE) / SUM(tf) AS avg_logprob,
        |       (CAST(SUM(lp * tf) AS DOUBLE) / SUM(tf)) < -6.0 AS flagged
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    row("quality_calibration", TextDemos.qualityCalibration(_, _))(
      OracleGen.qualityCalibrationSql()),
    row("ann_filtered_topk", TextDemos.annFilteredTopk(_, _))(OracleGen.ivfTopkSql(
      candWhere = " AND vec_id % 3 <> 0")),
    row("source_mix", TextDemos.sourceMix(_, _))(
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, n,
        |         CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0
        |                     WHEN 'src2' THEN 1.0 ELSE 0.0 END AS w
        |  FROM c
        |), t AS (
        |  SELECT MIN(CAST(n AS DOUBLE) / w) AS T FROM w WHERE w > 0
        |), f AS (
        |  SELECT source,
        |         LEAST(CAST(1.0 AS DOUBLE), w * t.T / CAST(n AS DOUBLE)) AS keep_frac
        |  FROM w CROSS JOIN t WHERE w > 0
        |)
        |SELECT d.source, COUNT(*) AS n_kept, round(f.keep_frac, 6) AS keep_frac
        |FROM documents d JOIN f ON d.source = f.source
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |           % 1000000 AS DOUBLE) < f.keep_frac * 1000000.0
        |GROUP BY d.source, f.keep_frac
        |ORDER BY d.source""".stripMargin),
    // q_s ∝ p_s^0.5 downsample-only: keep_frac = (n/n_min)^(0.5-1);
    // pow/division order mirrors Sampling.temperatureMix exactly
    row("temperature_mix", TextDemos.temperatureMix(_, _))(
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        |), m AS (
        |  SELECT MIN(n) AS nmin FROM c
        |), f AS (
        |  SELECT lang,
        |         pow(CAST(n AS DOUBLE) / CAST(m.nmin AS DOUBLE), -0.5) AS keep_frac
        |  FROM c CROSS JOIN m
        |)
        |SELECT d.lang, COUNT(*) AS n_kept, round(f.keep_frac, 6) AS keep_frac
        |FROM documents d JOIN f ON d.lang = f.lang
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |           % 1000000 AS DOUBLE) < f.keep_frac * 1000000.0
        |GROUP BY d.lang, f.keep_frac
        |ORDER BY d.lang""".stripMargin),
    row("centrality_gate", TextDemos.centralityGate(_, _), PlanPinned)(
      OracleGen.centralityGateSql()),
    // sliding-window chunking: starts = range(0, n, stride); chunk_idx
    // = start/stride (starts are exact multiples, so the integer
    // division mirrors posexplode's ordinal)
    row("chunk_overlap", TextDemos.chunkOverlapDemo(_, _))(
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |)
        |SELECT doc_id, CAST(u.s // 48 AS BIGINT) AS chunk_idx,
        |       CAST(u.s AS BIGINT) AS start_tok,
        |       CAST(LEAST(64, len(ts) - u.s) AS BIGINT) AS n_tokens,
        |       array_to_string(ts[u.s + 1 : u.s + 64], ' ') AS chunk_text
        |FROM ws CROSS JOIN UNNEST(range(0, len(ts), 48)) AS u(s)
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    // exact phrase scan: candidates on the first token, verified by
    // token-slice list equality — mirrors phraseMatches exactly
    row("phrase_blocklist_scan", TextDemos.phraseBlocklistScan(_, _))(
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents
        |), pt AS (
        |  SELECT phrase, list_filter(string_split(phrase, ' '), x -> x <> '') AS pts
        |  FROM (VALUES ('the part'), ('window spark'), ('customer query line')) AS p(phrase)
        |)
        |SELECT w.doc_id, pt.phrase, CAST(u.i - 1 AS BIGINT) AS pos
        |FROM ws w CROSS JOIN UNNEST(range(1, len(w.ts) + 1)) AS u(i)
        |JOIN pt ON w.ts[u.i] = pt.pts[1]
        |WHERE w.ts[u.i : u.i + len(pt.pts) - 1] = pt.pts
        |ORDER BY doc_id, pos, phrase""".stripMargin),
    // symmetric int8 quantization: the clamp/round expression appears
    // twice (codes + error) exactly as the Spark side evaluates it
    row("vec_quantize", TextDemos.vecQuantizeDemo(_, _))(
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings
        |), a AS (
        |  SELECT vec_id, vd,
        |         list_max(list_transform(vd, x -> abs(x))) AS amax,
        |         round(list_max(list_transform(vd, x -> abs(x))) / 127.0, 9) AS scale
        |  FROM v
        |)
        |SELECT vec_id, scale,
        |       array_to_string(list_transform(vd, x ->
        |         CAST(CASE WHEN scale = 0 THEN 0
        |                   ELSE GREATEST(-127, LEAST(127, CAST(round(x / scale, 0) AS BIGINT)))
        |              END AS VARCHAR)), ',') AS codes,
        |       CASE WHEN amax = 0 THEN 0.0
        |            WHEN scale = 0 THEN round(amax, 9)
        |            ELSE round(list_max(list_transform(vd, x ->
        |                   abs(x - GREATEST(-127, LEAST(127, CAST(round(x / scale, 0) AS BIGINT))) * scale))), 9)
        |       END AS max_abs_err
        |FROM a ORDER BY vec_id""".stripMargin),
    // bloom pruning must be result-invariant: the fused form answers to
    // the SAME oracle as the plain q3
    row("q3_shipping_bloom", Analytics.q3ShippingPriorityBloom(_, _))(oracleSqlQ3),
    // B13: the salt is partitioning mechanics only — the oracle is the
    // plain unsalted join
    row("salted_skew_join", Analytics.saltedSkewJoinDemo(_, _))(
      s"""SELECT s_nationkey, COUNT(*) AS n_lines, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    // B16: bucketing pre-pays the shuffle but must not change the
    // result — the oracle is the plain join (plan shape is spec-gated)
    row("bucketed_colocated_join", Analytics.bucketedColocatedJoin(_, _))(
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines, ${dsum("l_quantity")} AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // A13: pagination is deterministic, so the oracle recomputes the
    // expected page assignment straight from the table (the Spark side
    // goes through real page files + filename recovery)
    row("paged_ingest", RefDemos.pagedIngest(_, _))(
      """SELECT c_custkey, c_name, c_mktsegment,
        |       CAST((ROW_NUMBER() OVER (ORDER BY c_custkey) - 1) // 200 AS INT) AS _page
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // A12c: the publish round trip is deterministic, so the oracle
    // recomputes group + wrapper total + payload from the table (the
    // Spark side goes through the sink's snapshot layout and back)
    row("wrapped_roundtrip", RefDemos.wrappedRoundtrip(_, _))(
      """SELECT o_orderpriority,
        |       CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS total,
        |       o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // A12: the wrapped {group,total,rows} object, rows sorted and
    // JSON-serialized — both engines render the same compact form, so
    // the nested object value-checks through a scalar string column
    row("wrapped_export", RefDemos.wrappedExport(_, _))(wrappedExportSql),
    // C28: the Gopher rule battery — integer counts and exact
    // int-over-int divisions, so doubles match without rounding
    row("gopher_quality", TextDemos.gopherQuality(_, _))(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS BIGINT) AS total_chars,
        |    CAST(len(list_filter(toks, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS symbol_hits,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(toks, s))) AS BIGINT) AS n_stop_hits
        |  FROM t
        |), r AS (
        |  SELECT doc_id, n_words,
        |    CASE WHEN n_words > 0 THEN CAST(total_chars AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN n_words > 0 THEN CAST(symbol_hits AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac,
        |    n_stop_hits
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop_hits,
        |       (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |        AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop_hits >= 2) AS passes
        |FROM r ORDER BY doc_id""".stripMargin),
    // C-pipeline E2E: blocklist → outlier trim → exact dedup → hash
    // split, each stage mirroring its standalone oracle's SQL
    row("llm_pipeline_e2e", TextDemos.llmPipelineE2e(_, _)) {
      val bounds = OracleGen.interpolatedPercentilesSql(
        "(SELECT 1 AS _g, n_tokens FROM m)", "_g", "n_tokens",
        Seq("lo_bound" -> 0.05, "hi_bound" -> 0.95))
      s"""WITH docs AS (
         |  SELECT doc_id, source, text,
         |    'https://www.' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM documents
         |), blocked(domain) AS (
         |  VALUES ('src3.example.com'), ('src7.example.com'), ('src11.example.com')
         |), kept AS (
         |  SELECT * FROM docs
         |  WHERE regexp_extract(url, '^https?://(?:www\\.)?([^/]+)', 1)
         |        NOT IN (SELECT domain FROM blocked)
         |), m AS (
         |  SELECT doc_id, source, text,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM kept
         |), b AS (
         |$bounds
         |), trimmed AS (
         |  SELECT m.* FROM m CROSS JOIN b
         |  WHERE NOT (CAST(n_tokens AS DOUBLE) < b.lo_bound OR
         |             CAST(n_tokens AS DOUBLE) > b.hi_bound)
         |), keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM trimmed GROUP BY md5(text)
         |), dd AS (
         |  SELECT t.* FROM trimmed t JOIN keep USING (doc_id)
         |), s AS (
         |  SELECT *, CASE WHEN bucket < 80 THEN 'train'
         |                 WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT *,
         |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
         |        FROM dd)
         |)
         |SELECT split, source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM s GROUP BY split, source ORDER BY split, source""".stripMargin
    },
    // D-series stream-batch parity: the REAL streaming pipelines
    // replayed finitely (Trigger.AvailableNow over staged file
    // sources), final sink state checked against the batch twins'
    // oracles (D1↔B7, D5↔A12, D6↔C2)
    row("stream_window_parity", StreamParity.streamWindowParity(_, _), Streaming)(timeWindowAggSql),
    row("stream_upsert_parity", StreamParity.streamUpsertParity(_, _), Streaming)(wrappedExportSql),
    // D2: the doubled stream dedups back to the table itself
    row("stream_dedup_state_parity", StreamParity.streamDedupStateParity(_, _), Streaming)(
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin),
    // D4: inner interval join = the plain time-range join
    row("stream_interval_join_parity", StreamParity.streamIntervalJoinParity(_, _), Streaming)(
      """SELECT e.user_id, e.event_id, e.ts AS e_ts,
        |       p.ts AS p_ts, p.value AS p_value
        |FROM events e
        |JOIN events p
        |  ON p.user_id = e.user_id
        | AND p.ts <= e.ts AND p.ts >= e.ts - INTERVAL 1 HOUR
        |WHERE e.event_type = 'error' AND p.event_type = 'purchase'
        |ORDER BY e.event_id, p.ts""".stripMargin),
    // D3: gap sessions over ms-truncated event times (the stateful
    // operator keeps Timestamp.getTime ms). Emission semantics: a
    // session followed by a later event of the same user CLOSES and
    // emits when that successor arrives (watermark-independent);
    // each user's LAST session emits only if its event-time timeout
    // (end + 30 min) fell strictly behind the final watermark
    // (max ts - the 1 h delay) — otherwise it lives only in state,
    // exactly as on an unbounded stream
    row("stream_session_parity", StreamParity.streamSessionParity(_, _), Streaming)(
      """WITH ev AS (
        |  SELECT user_id, date_trunc('milliseconds', ts) AS ts FROM events
        |), flagged AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessions AS (
        |  SELECT user_id, ts,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged
        |), agg AS (
        |  SELECT user_id, session_id, MIN(ts) AS session_start,
        |         MAX(ts) AS session_end, COUNT(*) AS n_events,
        |         MAX(session_id) OVER (PARTITION BY user_id) AS last_sid
        |  FROM sessions GROUP BY user_id, session_id
        |)
        |SELECT user_id, session_start, session_end,
        |       CAST(n_events AS BIGINT) AS n_events
        |FROM agg
        |WHERE session_id < last_sid
        |   OR epoch_ms(session_end) + 1800000 <
        |      (SELECT MAX(epoch_ms(date_trunc('milliseconds', ts))) - 3600000
        |       FROM events)
        |ORDER BY user_id, session_start""".stripMargin),
    // D7: incremental heavy hitters land on the batch answer
    row("stream_topk_ngrams_parity", StreamParity.streamTopkNgramsParity(_, _), Streaming)(
      topkNgramsSql),
    // D8: the streaming decontamination gate lands on C21's answer
    row("stream_contamination_parity", StreamParity.streamContaminationParity(_, _), Streaming)(
      OracleGen.contaminationCheckSql()),
    // D9: the streaming quality gate's final counters equal the
    // batch aggregate of the C70 rules over the same pages
    row("stream_quality_gate_parity", StreamParity.streamQualityGateParity(_, _), Streaming)(
      OracleGen.c4GateAggSql()),
    // D13: the collected turn state finalizes to the batch
    // validator's answer — C94's oracle verbatim
    row("stream_sft_gate_parity", StreamParity.streamSftGateParity(_, _), Streaming)(
      OracleGen.sftValidateSql()),
    // D14: the streamed mojibake counters land on C105's batch agg
    row("stream_mojibake_parity", StreamParity.streamMojibakeParity(_, _), Streaming)(
      OracleGen.streamMojibakeSql()),
    // D15: the C103 chain projected to the removal SET (the reason
    // column is the batch row's decoration, gated there)
    row("stream_takedown_parity", StreamParity.streamTakedownParity(_, _), Streaming)(
      s"""SELECT doc_id, cluster FROM (
         |${OracleGen.takedownSql()}
         |) ORDER BY doc_id""".stripMargin),
    // D11: the streamed histogram + batch reference lands on C80's
    // batch PSI answer
    row("stream_drift_parity", StreamParity.streamDriftParity(_, _), Streaming)(
      OracleGen.corpusDriftSql()),
    // D12: the streamed reliability counters land on C81's batch
    // calibration answer
    row("stream_calibration_parity", StreamParity.streamCalibrationParity(_, _), Streaming)(
      OracleGen.qualityCalibrationSql()),
    // D10: the streamed KMV sketch is an order statistic — it must
    // equal the batch distinct-sort-limit of the same corpus
    row("stream_kmv_sketch_parity", StreamParity.streamKmvSketchParity(_, _), Streaming)(
      OracleGen.streamKmvSketchSql()),

    // ---- bench-only production paths: configurations whose hash
    // functions have no DuckDB counterpart (so no oracle), benchmarked
    // alongside their oracle-portable twins
    benchOnly("dedup_minhash_prod_xxhash", TextDemos.dedupMinhashProdXxhash(_, _)),
    // C63 PCA fit+project e2e: the eigendecomposition is not
    // SQL-expressible (PcaSpec gates it: moments vs hand math, known
    // eigenpairs); the PROJECTION half is oracle-gated via the
    // `pca_project` row, which interpolates the fitted basis
    benchOnly("pca_reduce", TextDemos.pcaReduce(_, _)),
    // the skew stress pair: same dominant-key fixture, with and
    // without salting — BENCH records both so the delta is on file
    benchOnly("skew_join_plain", Analytics.skewJoinPlain(_, _)),
    benchOnly("skew_join_salted", Analytics.skewJoinSalted(_, _)),
    // the C91 past-the-ceiling selector (k-means|| shape): the seeded
    // hash sampling has no DuckDB mirror, so this path is benchmarked
    // (cost independent of k — the claim the row exists to measure)
    // and spec-gated against exact greedy (KcenterSpec)
    benchOnly("kcenter_select_par", (s, dir) =>
      Similarity.kcenterSelectParallel(
        graft.sources.Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 32, rounds = 3, oversample = 4.0)),
  )
}
