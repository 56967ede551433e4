package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Par
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.queries.Catalog.{Q, table, events}
import graft.queries.ExtShared._

/** Layout and governance: z-order, compaction, range bounds, encoding advisor, provenance, DP-shaped release, expectations, format round-trips.
  * Split from the former single Extensions.scala (round 7) for
  * navigability — zero behavior change; [[Extensions.all]] still
  * concatenates every family. */
private[queries] object ExtGovernance {

  private val q122_zorder = Q(
    "q122_zorder",
    // Z-order layout clustering on (user_id, value): 8-bit
    // fixed-point ranks bit-interleaved into a Morton z-value, cell
    // = top 4 bits (16 data-independent z-range cells standing in
    // for output files). Pure integer/IEEE arithmetic end to end, so
    // the oracle rebuilds every z bitwise; LayoutSpec measures the
    // pruning benefit (narrow range on EITHER column touches few
    // cells).
    (s, dir) =>
      graft.operators.Layout.zOrdered(
        events(s, dir).select("event_id", "user_id", "value"),
        Seq("user_id", "value"), bits = 8, cellBits = 4)
        .select("event_id", "z", "cell")
        .orderBy("event_id"),
    Some {
      def scaledSql(c: String, mn: String, mx: String) =
        s"CASE WHEN $mx = $mn THEN 0 ELSE CAST(floor(((CAST($c AS DOUBLE)" +
          s" - $mn) / ($mx - $mn)) * 255.0) AS BIGINT) END"
      val terms = (for {
        i <- 0 until 8
        j <- 0 until 2
      } yield s"((r$j >> $i) & 1) * ${1L << (i * 2 + j)}").mkString(" + ")
      s"""WITH b AS (SELECT min(CAST(user_id AS DOUBLE)) AS mn0,
          max(CAST(user_id AS DOUBLE)) AS mx0,
          min(value) AS mn1, max(value) AS mx1 FROM events),
        r AS (SELECT event_id,
          ${scaledSql("user_id", "mn0", "mx0")} AS r0,
          ${scaledSql("value", "mn1", "mx1")} AS r1
          FROM events CROSS JOIN b),
        z AS (SELECT event_id, $terms AS z FROM r)
        SELECT event_id, z, z >> 12 AS cell
        FROM z ORDER BY event_id"""
    }
  )

  private val q143_snapshot_at = Q(
    "q143_snapshot_at",
    // Time-travel read over the q123 SCD2 history: every user's state
    // AS OF 2024-01-15T00:00:00Z — one filter over the runs-sized
    // period table ([from, to) semantics), never a changelog rescan.
    // The oracle rebuilds the full history and applies the same
    // point-in-time predicate; at most one row per user by the
    // non-overlap invariant (spec-pinned against the direct
    // latest-event-per-user answer).
    (s, dir) =>
      graft.operators.TimeSeries.snapshotAt(
        graft.operators.TimeSeries.changeHistory(
          events(s, dir), Seq("user_id"), "ts", "event_type", "event_id"),
        tsMicros = 1705276800000000L)
        .orderBy("user_id"),
    Some("""WITH l AS (SELECT user_id, event_type, ts, event_id,
        CASE WHEN lag(event_type) OVER
          (PARTITION BY user_id ORDER BY ts, event_id)
          IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
        FROM events),
      r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
        FROM l),
      g AS (SELECT user_id, run, event_type AS value,
          min(epoch_us(ts)) AS valid_from_us,
          CAST(count(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1, 2, 3),
      h AS (SELECT user_id, value, valid_from_us,
        lead(valid_from_us) OVER (PARTITION BY user_id
          ORDER BY valid_from_us) AS valid_to_us,
        n_events,
        lead(valid_from_us) OVER (PARTITION BY user_id
          ORDER BY valid_from_us) IS NULL AS is_current
      FROM g)
      SELECT * FROM h
      WHERE valid_from_us <= 1705276800000000
        AND (valid_to_us IS NULL OR valid_to_us > 1705276800000000)
      ORDER BY user_id""")
  )

  private val q144_join_size_audit = Q(
    "q144_join_size_audit",
    // Predict the l_partkey SELF-join's size before paying for it:
    // Sum over keys of n^2, from two key-count aggregates and a
    // count-sized join — no joined row ever materializes. Top-10
    // contributing keys plus the headline predicted_total on every
    // row; a predicted size past 2^63 would fail loudly under ANSI,
    // which IS the answer.
    (s, dir) =>
      graft.operators.Profile.joinSizeAudit(
        table(s, dir, "lineitem"), "l_partkey",
        table(s, dir, "lineitem"), "l_partkey", topN = 10)
        .orderBy("rank"),
    Some("""WITH c AS (SELECT l_partkey AS key,
        CAST(count(*) AS BIGINT) AS n FROM lineitem
        WHERE l_partkey IS NOT NULL GROUP BY l_partkey),
      j AS (SELECT key, n AS n_left, n AS n_right, n * n AS out_rows
        FROM c),
      t AS (SELECT CAST(coalesce(sum(out_rows), 0) AS BIGINT)
        AS predicted_total FROM j),
      r AS (SELECT *, CAST(row_number() OVER
          (ORDER BY out_rows DESC, key) AS BIGINT) AS rank FROM j)
      SELECT r.key, r.n_left, r.n_right, r.out_rows,
        t.predicted_total, r.rank
      FROM r, t WHERE r.rank <= 10 ORDER BY r.rank""")
  )

  private val q150_expectations = Q(
    "q150_expectations",
    // Data-contract gate over the customer dimension: five row-scoped
    // rules fold into ONE conditional-aggregation scan (null =
    // violation, the audit posture) plus a key-aggregated uniqueness
    // rule. The clean fixture passing every rule IS the assertion —
    // ExpectationsSpec plants nulls/dupes/strays to prove the
    // counters count.
    (s, dir) => {
      import graft.operators.Expectations
      Expectations.audit(
        table(s, dir, "customer"),
        checks = Seq(
          "acctbal_range" ->
            col("c_acctbal").between(-1000.0, 10000.0),
          "custkey_not_null" -> col("c_custkey").isNotNull,
          "mktsegment_accepted" -> col("c_mktsegment").isin(
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"),
          "name_format" -> col("c_name").rlike("^Customer#[0-9]{9}$"),
          "nationkey_range" -> col("c_nationkey").between(0, 24)),
        uniques = Seq(Expectations.UniqueKey("custkey_unique",
          Seq("c_custkey"))))
    },
    Some("""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total
        FROM customer),
      r AS (
        SELECT 'acctbal_range' AS rule, 'row' AS kind,
          CAST(sum(CASE WHEN COALESCE(
            c_acctbal BETWEEN -1000.0 AND 10000.0, FALSE)
            THEN 0 ELSE 1 END) AS BIGINT) AS violations FROM customer
        UNION ALL SELECT 'custkey_not_null', 'row',
          CAST(sum(CASE WHEN c_custkey IS NOT NULL
            THEN 0 ELSE 1 END) AS BIGINT) FROM customer
        UNION ALL SELECT 'mktsegment_accepted', 'row',
          CAST(sum(CASE WHEN COALESCE(c_mktsegment IN ('AUTOMOBILE',
            'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), FALSE)
            THEN 0 ELSE 1 END) AS BIGINT) FROM customer
        UNION ALL SELECT 'name_format', 'row',
          CAST(sum(CASE WHEN COALESCE(
            regexp_matches(c_name, '^Customer#[0-9]{9}$'), FALSE)
            THEN 0 ELSE 1 END) AS BIGINT) FROM customer
        UNION ALL SELECT 'nationkey_range', 'row',
          CAST(sum(CASE WHEN COALESCE(
            c_nationkey BETWEEN 0 AND 24, FALSE)
            THEN 0 ELSE 1 END) AS BIGINT) FROM customer
        UNION ALL SELECT 'custkey_unique', 'unique',
          CAST(COALESCE(sum(c - 1), 0) AS BIGINT)
          FROM (SELECT c_custkey, count(*) AS c FROM customer
            GROUP BY 1 HAVING count(*) > 1))
      SELECT r.rule, r.kind, r.violations, t.total,
        r.violations = 0 AS pass
      FROM r, t ORDER BY rule""")
  )

  private val q152_compaction_plan = Q(
    "q152_compaction_plan",
    // Small-file compaction plan over the documents inventory
    // (doc_id standing in for file id, n_chars for bytes): next-fit
    // by cumulative size within each source at an 8 KB target — one
    // source-partitioned running sum, integer bin arithmetic, bin
    // stats ridden back via a (source, bin) partial agg.
    (s, dir) =>
      graft.operators.Layout.compactionPlan(
        table(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", "n_chars", targetBytes = 8192L)
        .orderBy("source", "doc_id"),
    Some("""WITH c AS (SELECT source, doc_id, n_chars,
        CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM documents),
      p AS (SELECT source, doc_id, n_chars,
        (cum - n_chars) // 8192 AS bin FROM c),
      b AS (SELECT source, bin, CAST(sum(n_chars) AS BIGINT)
          AS bin_bytes, CAST(count(*) AS BIGINT) AS bin_files
        FROM p GROUP BY 1, 2)
      SELECT p.source, p.doc_id, p.n_chars, p.bin,
        b.bin_bytes, b.bin_files
      FROM p JOIN b USING (source, bin)
      ORDER BY p.source, p.doc_id""")
  )

  private val q153_range_bounds = Q(
    "q153_range_bounds",
    // Exact range-partition boundaries for a 16-way sorted layout of
    // lineitem by l_orderkey: disc-quantile split points from the
    // two-phase prefix sum (bucket-partitioned cumsums + triangular
    // bucket-offset join) — deterministic where Spark's range
    // sampler drifts. The oracle replays the same rank targets with
    // a global window.
    (s, dir) =>
      graft.operators.Skew.rangeBounds(
        table(s, dir, "lineitem"), "l_orderkey",
        numPartitions = 16)
        .orderBy("p"),
    Some("""WITH c AS (SELECT l_orderkey AS v,
        CAST(count(*) AS BIGINT) AS cnt FROM lineitem
        WHERE l_orderkey IS NOT NULL GROUP BY 1),
      s AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
      n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
      t AS (SELECT CAST(r.i AS BIGINT) AS p,
          CAST((r.i * n.n + 15) // 16 AS BIGINT) AS target_rank
        FROM range(1, 16) r(i), n)
      SELECT t.p, t.target_rank, CAST(min(s.v) AS BIGINT) AS bound
      FROM t JOIN s ON s.cum >= t.target_rank
      GROUP BY t.p, t.target_rank ORDER BY t.p""")
  )

  private val q181_join_advisor = Q(
    "q181_join_advisor",
    // Join pre-flight: lineitem x supplier sized and skew-profiled
    // into one decision row — two key-aggregated counts, rule-based
    // recommendation (the tiny supplier side broadcasts).
    (s, dir) =>
      graft.operators.Skew.joinAdvisor(
        table(s, dir, "lineitem"), "l_suppkey",
        table(s, dir, "supplier"), "s_suppkey"),
    Some("""WITH lc AS (SELECT l_suppkey AS k,
        CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
      la AS (SELECT CAST(sum(n) AS BIGINT) AS left_rows,
        CAST(COALESCE(sum(CASE WHEN k IS NULL THEN n END), 0)
          AS BIGINT) AS left_null_keys,
        CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
          AS left_top_share FROM lc),
      rc AS (SELECT s_suppkey AS k,
        CAST(count(*) AS BIGINT) AS n FROM supplier GROUP BY 1),
      ra AS (SELECT CAST(sum(n) AS BIGINT) AS right_rows,
        CAST(COALESCE(sum(CASE WHEN k IS NULL THEN n END), 0)
          AS BIGINT) AS right_null_keys,
        CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
          AS right_top_share FROM rc)
      SELECT la.left_rows, la.left_null_keys, la.left_top_share,
        ra.right_rows, ra.right_null_keys, ra.right_top_share,
        CASE WHEN la.left_rows <= 1000000
            AND la.left_rows <= ra.right_rows THEN 'broadcast_left'
          WHEN ra.right_rows <= 1000000 THEN 'broadcast_right'
          WHEN la.left_top_share >= 0.2 OR ra.right_top_share >= 0.2
            THEN 'salted_shuffle'
          ELSE 'shuffle' END AS recommendation
      FROM la, ra""")
  )

  private val q182_provenance = Q(
    "q182_provenance",
    // Tamper-evident ingest ledger over 100-doc batches: per-period
    // XOR of md5-lower-64 row signatures (order-free partial agg) +
    // row count, chained through md5 in period order (bounded fold,
    // genesis-seeded). The oracle rebuilds every signature, XOR, and
    // chain link via a recursive CTE.
    (s, dir) =>
      graft.operators.Profile.provenanceLedger(
        table(s, dir, "documents")
          .withColumn("batch", expr("doc_id div 100")),
        "doc_id", "text", "batch")
        .orderBy("period"),
    Some("""WITH RECURSIVE b AS (SELECT doc_id // 100 AS period,
        md5_number_lower(CAST(doc_id AS VARCHAR) || ':'
          || COALESCE(text, '')) AS us FROM documents),
      sgn AS (SELECT period,
        CAST(CASE WHEN us >= 9223372036854775808::HUGEINT
          THEN us - 18446744073709551616::HUGEINT
          ELSE us END AS BIGINT) AS sig FROM b),
      per AS (SELECT period, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(bit_xor(sig) AS BIGINT) AS xor_sig FROM sgn GROUP BY 1),
      seq AS (SELECT per.*, CAST(row_number() OVER (ORDER BY period)
        AS BIGINT) AS rn FROM per),
      ch AS (
        SELECT rn, period, n_rows, xor_sig,
          md5('genesis' || ':' || CAST(period AS VARCHAR) || ':'
            || CAST(xor_sig AS VARCHAR) || ':'
            || CAST(n_rows AS VARCHAR)) AS chain_hash
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.rn, s.period, s.n_rows, s.xor_sig,
          md5(c.chain_hash || ':' || CAST(s.period AS VARCHAR) || ':'
            || CAST(s.xor_sig AS VARCHAR) || ':'
            || CAST(s.n_rows AS VARCHAR))
        FROM ch c JOIN seq s ON s.rn = c.rn + 1)
      SELECT CAST(period AS BIGINT) AS period, n_rows, xor_sig,
        chain_hash
      FROM ch ORDER BY period""")
  )

  private val q141_integrity_audit = Q(
    "q141_integrity_audit",
    // Referential-integrity audit over the star schema's five FK
    // edges: null keys + orphans (rows an inner join would silently
    // drop) per edge, via narrow key aggregates and anti-joins
    // against distinct parent keys. The fixture is clean — zero
    // orphans IS the assertion; ProfileSpec plants orphans to prove
    // the counters count.
    (s, dir) => {
      import graft.operators.Profile.FkEdge
      def t(n: String) = table(s, dir, n)
      graft.operators.Profile.integrityAudit(Seq(
        FkEdge("lineitem_order", t("lineitem"), "l_orderkey",
          t("orders"), "o_orderkey"),
        FkEdge("lineitem_part", t("lineitem"), "l_partkey",
          t("part"), "p_partkey"),
        FkEdge("lineitem_supplier", t("lineitem"), "l_suppkey",
          t("supplier"), "s_suppkey"),
        FkEdge("orders_customer", t("orders"), "o_custkey",
          t("customer"), "c_custkey"),
        FkEdge("customer_nation", t("customer"), "c_nationkey",
          t("nation"), "n_nationkey")))
        .orderBy("edge")
    },
    Some("""WITH e1 AS (SELECT 'lineitem_order' AS edge,
        CAST(count(*) AS BIGINT) AS n_child,
        CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_null_keys,
        CAST(count(*) FILTER (WHERE l_orderkey IS NOT NULL AND
          l_orderkey NOT IN (SELECT o_orderkey FROM orders))
          AS BIGINT) AS n_orphans,
        CAST(count(DISTINCT l_orderkey) FILTER (WHERE l_orderkey IS NOT
          NULL AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
          AS BIGINT) AS n_orphan_keys FROM lineitem),
      e2 AS (SELECT 'lineitem_part',
        CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(count(*) FILTER (WHERE l_partkey IS NOT NULL AND
          l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT),
        CAST(count(DISTINCT l_partkey) FILTER (WHERE l_partkey IS NOT
          NULL AND l_partkey NOT IN (SELECT p_partkey FROM part))
          AS BIGINT) FROM lineitem),
      e3 AS (SELECT 'lineitem_supplier',
        CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(count(*) FILTER (WHERE l_suppkey IS NOT NULL AND
          l_suppkey NOT IN (SELECT s_suppkey FROM supplier)) AS BIGINT),
        CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_suppkey IS NOT
          NULL AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
          AS BIGINT) FROM lineitem),
      e4 AS (SELECT 'orders_customer',
        CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(count(*) FILTER (WHERE o_custkey IS NOT NULL AND
          o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
        CAST(count(DISTINCT o_custkey) FILTER (WHERE o_custkey IS NOT
          NULL AND o_custkey NOT IN (SELECT c_custkey FROM customer))
          AS BIGINT) FROM orders),
      e5 AS (SELECT 'customer_nation',
        CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
          AS BIGINT),
        CAST(count(*) FILTER (WHERE c_nationkey IS NOT NULL AND
          c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS BIGINT),
        CAST(count(DISTINCT c_nationkey) FILTER (WHERE c_nationkey IS
          NOT NULL AND c_nationkey NOT IN
          (SELECT n_nationkey FROM nation)) AS BIGINT) FROM customer)
      SELECT * FROM e1 UNION ALL SELECT * FROM e2
      UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
      UNION ALL SELECT * FROM e5 ORDER BY edge""")
  )

  private val q103_schema_evolution = Q(
    "q103_schema_evolution",
    // Schema evolution across file generations, oracle-backed: gen 1
    // wrote (doc_id, lang), gen 2 added `source`; the evolved read
    // (mergeSchema + alignTo a declared target that ALSO contains a
    // column neither generation has) must surface one stable schema —
    // gen-1 rows carry NULL source, everyone carries the typed NULL
    // quality column — which the oracle rebuilds with CASE/NULL
    // projections over the base table. Scratch tree deleted on every
    // path; emitted rows live in a local relation.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q103_").toString
      try {
        val docs = table(s, dir, "documents")
        docs.filter(col("doc_id") < 250).select("doc_id", "lang")
          .write.parquet(s"$base/gen=1")
        docs.filter(col("doc_id") >= 250).select("doc_id", "lang", "source")
          .write.parquet(s"$base/gen=2")
        import org.apache.spark.sql.types._
        val target = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("quality", DoubleType)))
        collectToLocal(
          graft.sources.Sources.parquetEvolved(s, base, target),
          "q103 evolved read")
          .orderBy("doc_id")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    },
    Some("""SELECT doc_id, lang,
        CASE WHEN doc_id >= 250 THEN source ELSE NULL END AS source,
        CAST(NULL AS DOUBLE) AS quality
      FROM documents ORDER BY doc_id""")
  )

  private val q189_encoding_advisor = Q(
    "q189_encoding_advisor",
    // Storage-layout advisor: per-column cardinality facts (distinct,
    // nulls, heaviest value, Simpson concentration) and the 1/16
    // dictionary heuristic, from ONE stacked pass over the listed
    // lineitem columns — exact integers + one emitted division.
    (s, dir) =>
      graft.operators.Layout.encodingAdvisor(
        table(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_quantity",
          "l_shipdate", "l_orderkey"))
        .orderBy("col_name"),
    Some {
      def block(c: String) =
        s"""SELECT '$c' AS col_name,
          CAST(sum(cnt) AS BIGINT) AS n_rows,
          CAST(COALESCE(sum(CASE WHEN v IS NULL THEN cnt END), 0)
            AS BIGINT) AS n_nulls,
          CAST(count(CASE WHEN v IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_distinct,
          CAST(max(CASE WHEN v IS NOT NULL THEN cnt END)
            AS BIGINT) AS max_count,
          CAST(COALESCE(sum(CASE WHEN v IS NOT NULL
            THEN cnt * cnt END), 0) AS BIGINT) AS sum_sq_counts
        FROM (SELECT v, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT $c AS v FROM lineitem) GROUP BY v)"""
      val union = Seq("l_returnflag", "l_linestatus", "l_quantity",
        "l_shipdate", "l_orderkey").map(block).mkString(" UNION ALL ")
      s"""WITH stats AS ($union)
      SELECT col_name, n_rows, n_nulls, n_distinct, max_count,
        sum_sq_counts,
        CASE WHEN n_rows > 0 THEN CAST(max_count AS DOUBLE)
          / CAST(n_rows AS DOUBLE) END AS top_share,
        16 * n_distinct <= n_rows - n_nulls AS dict_friendly
      FROM stats ORDER BY col_name"""
    }
  )

  private val q266_k_anonymity = Q(
    "q266_k_anonymity",
    // k-anonymity / l-diversity audit of a record-level export:
    // every (nation, segment) quasi-identifier cell must hold >= 10
    // customers or it is re-identifiable by a public-register join;
    // l_diversity counts distinct account-balance bands per cell
    // (low l leaks the attribute even at k-anonymous sizes). One
    // partial-aggregable groupBy; exact integers only.
    (s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(
        table(s, dir, "customer")
          .withColumn("bal_band",
            floor(col("c_acctbal") / lit(1000.0)).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", k = 10L)
        .orderBy("c_nationkey", "c_mktsegment"),
    Some("""WITH b AS (SELECT c_nationkey, c_mktsegment,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        FROM customer)
      SELECT c_nationkey, c_mktsegment,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(DISTINCT bal_band) AS BIGINT) AS l_diversity,
        count(*) < 10 AS at_risk
      FROM b GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  private val q251_cc_audit = Q(
    "q251_cc_audit",
    // Payment-card exposure audit per source: Luhn-validated
    // candidates, not bare regex hits (the corpus plants a valid
    // card on doc_id%10==0 and a checksum-broken one on
    // doc_id%10==5, so the discriminator is visibly load-bearing:
    // half the candidates fail). Pure declarative Catalyst — the
    // Luhn fold is a transform+aggregate the oracle replays
    // digit-for-digit.
    (s, dir) => {
      val planted = table(s, dir, "documents")
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 10 === 0, lit(" 4532015112830366"))
            .when(col("doc_id") % 10 === 5,
              lit(" 4111111111111112"))
            .otherwise(lit(""))))
      graft.operators.Privacy.ccAudit(
        planted, Seq("source"), "text")
        .orderBy("source")
    },
    Some("""WITH p AS (SELECT source, text ||
        CASE WHEN doc_id % 10 = 0 THEN ' 4532015112830366'
          WHEN doc_id % 10 = 5 THEN ' 4111111111111112'
          ELSE '' END AS t FROM documents),
      c AS (SELECT source, regexp_extract_all(t, '[0-9]{13,19}')
        AS cs FROM p),
      d AS (SELECT source, len(cs) AS nc,
          len(list_filter(cs, x ->
            list_aggregate(list_transform(range(1, length(x) + 1),
              i -> CASE WHEN i % 2 = 1
                THEN CAST(substr(reverse(x), i, 1) AS INT)
                ELSE CASE
                  WHEN CAST(substr(reverse(x), i, 1) AS INT) * 2 > 9
                  THEN CAST(substr(reverse(x), i, 1) AS INT) * 2 - 9
                  ELSE CAST(substr(reverse(x), i, 1) AS INT) * 2
                  END END),
            'sum') % 10 = 0)) AS nv
        FROM c)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_flagged,
        CAST(sum(nc) AS BIGINT) AS n_candidates,
        CAST(sum(nv) AS BIGINT) AS n_luhn_valid,
        CASE WHEN sum(nc) > 0 THEN
          round(CAST(sum(nv) AS DOUBLE) / CAST(sum(nc) AS DOUBLE),
            6) END AS valid_share
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  private val q200_dp_release = Q(
    "q200_dp_release",
    // Differentially-private corpus statistics release: per
    // (source, lang) counts, k=3 suppression first (small groups
    // withheld entirely), then epsilon=1 Laplace noise from the
    // md5-derived deterministic uniform — a RETRIED release
    // publishes identical numbers, and DuckDB rebuilds the exact
    // noise from the same construction (release at the 6-decimal
    // ln-parity face).
    (s, dir) =>
      graft.operators.Privacy.dpCounts(
        table(s, dir, "documents"), Seq("source", "lang"),
        epsilon = 1.0, k = 3L,
        // fixture-only salt, mirrored by the oracle below; a real
        // release must use a caller-owned SECRET salt (Privacy doc)
        salt = "graft")
        .orderBy("source", "lang"),
    Some("""WITH g AS (SELECT source, lang,
        CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
      f AS (SELECT * FROM g WHERE n >= 3),
      u AS (SELECT source, lang, n,
        (CAST(md5_number_lower(source || '|' || lang || ':graft')
          >> 11 AS DOUBLE) + 0.5) / 9007199254740992.0 AS uu FROM f)
      SELECT source, lang, n,
        round(greatest(CAST(n AS DOUBLE) + (-(1.0 / 1.0)
          * (CASE WHEN uu - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
          * ln(1.0 - 2.0 * abs(uu - 0.5))), 0.0), 6) AS release
      FROM u ORDER BY source, lang""")
  )

  private val q206_format_roundtrip = Q(
    "q206_format_roundtrip",
    // CSV and JSON-lines sink -> source round trip under adversarial
    // content: the tricky column carries the delimiter, the quote
    // char, and spaces — the CSV threat model — through an actual
    // write-then-read of BOTH containers with explicit schemas
    // (never infer at scale: inference is an extra full pass). The
    // oracle is the same projection straight off parquet, so
    // equality proves both formats are lossless end to end, quoting
    // and JSON string escaping included. Scratch tree deleted on
    // every path.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q206_").toString
      try {
        val docs = table(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), col("source"),
            concat(col("lang"), lit(",\"x\" "), col("source"))
              .as("tricky"))
        graft.sources.Sources.writeCsv(docs, s"$base/csv")
        graft.sources.Sources.writeJsonLines(docs, s"$base/jsonl")
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("tricky", StringType)))
        val fromCsv = graft.sources.Sources
          .csv(s, s"$base/csv", schema)
          .select(col("doc_id"), col("source").as("csv_source"),
            col("tricky").as("csv_tricky"))
        val fromJson = graft.sources.Sources
          .jsonLines(s, s"$base/jsonl", schema)
          .select(col("doc_id"), col("tricky").as("json_tricky"))
        collectToLocal(fromCsv.join(fromJson, "doc_id"),
          "q206 roundtrip").orderBy("doc_id")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))
      }
    },
    Some("""SELECT doc_id, source AS csv_source,
        lang || ',"x" ' || source AS csv_tricky,
        lang || ',"x" ' || source AS json_tricky
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""")
  )

  private val q277_deletion_certificate = Q(
    "q277_deletion_certificate",
    // Per-REQUEST deletion certificate — the compliance readout a
    // right-to-be-forgotten pipeline must produce (GDPR art. 17's
    // "inform the data subject"): one row per requested id answering
    // what honoring it actually touched, assembled from the delete
    // lifecycle's layers on ONE consistent tombstone batch (the
    // q271/q274/q275/q276 doc_id % 97 request, plus a PLANTED unknown
    // id 999999 so the was_tracked = 0 path runs on the oracle-checked
    // path): was the id tracked at all; its duplicate cluster and
    // whether the id WAS the canonical representative (every derived
    // artifact keyed on it invalidates); whether the request finishes
    // the whole cluster (nothing to re-elect — propagate into indexes,
    // q274's branch); how many packed chunks the id's token span
    // invalidates (q275's radius, attributed per id) and the token
    // mass removed; and — closing the r11 gap — the k-NN LIST layer
    // (q276's artifact): whether the id's own maintained list drops
    // (n_lists_dropped) and how many SURVIVING queries' lists held
    // the id as a neighbor and are therefore forced to re-score
    // because of it (n_lists_needing_rescore; a list broken by two
    // requested ids counts in both rows — per-request attribution,
    // the certificate's whole point). Exact integer/closure
    // accounting end to end; the oracle replays the recursive-closure
    // clusters, the deletePropagation aggregate, the q74 cumsum
    // offsets, AND the exact dual-kNN lists in SQL. Shape: the
    // request is small (that is the premise of the delete family) —
    // every join below broadcasts it; the cluster map, manifest, and
    // list aggregates are scanned once each. The exact dual-kNN list
    // SUPPLIER is the bounded oracle face (q276's 32768 bound; feed
    // q273's streamed lists at scale).
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val e = table(s, dir, "embeddings")
      val corpusN = corpusCount(e, dir)
      require(corpusN <= 32768L,
        s"q277's exact dual-kNN list supplier scores corpusN²/4 " +
          s"pairs: $corpusN rows > 32768. Feed the certificate's " +
          "list layer q273's streamed ANN lists at this scale.")
      val ea = e.filter(col("vec_id") % 2 === 0)
      val eb = e.filter(col("vec_id") % 2 =!= 0)
      // the LIST layer (embeddings: dual k-NN supplier + two tiny
      // checkpointed aggregates) shares nothing with the CLUSTER
      // layer (documents: LSH + closure)
      val (clusters, (listOwners, rescoreByNn)) = Par.overlap {
        // persisted for the two list aggregates below; both are
        // checkpointed (tiny), so the supplier runs once and the
        // cache is dropped before the query returns
        val lists = Similarity.bruteForceTopK(
            eb, "vec_id", "embedding", ea, "vec_id", "embedding", k = 4)
          .unionByName(Similarity.bruteForceTopK(
            ea, "vec_id", "embedding", eb, "vec_id", "embedding", k = 4))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val lo = lists.select(col("query_id").as("_lqid")).distinct()
            .localCheckpoint(true)
          val rb = lists.filter(col("query_id") % 97 =!= 0)
            .groupBy(col("nn_id").as("_lnn"))
            .agg(count(lit(1)).as("_nrescore"))
            .localCheckpoint(true)
          (lo, rb)
        } finally lists.unpersist(blocking = false)
      } {
        val pairs = Dedup.minHashLshPairs(
          docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
          minJ = 0.5)
        Dedup.duplicateClusters(docs.select("doc_id"), pairs)
          .localCheckpoint(true) // consumed by the report AND the join
      }
      val tomb = docs.select(col("doc_id"))
        .filter(col("doc_id") % 97 === 0)
        .unionByName(s.range(1).select(lit(999999L).as("doc_id")))
      val report = Dedup.deletePropagation(clusters, tomb)
      val manifest = graft.operators.Pack.sequenceOffsets(
        docs.select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("toks")),
        "doc_id", "source", "doc_id", "toks", seqLen = 2048L)
      tomb.as("t")
        .join(clusters.as("c"), col("t.doc_id") === col("c.id"), "left")
        .join(report.select(col("cluster_id").as("_rcid"),
            when(col("n_survivors") === 0L, 1L).otherwise(0L)
              .as("cluster_fully_deleted")),
          col("c.cluster_id") === col("_rcid"), "left")
        .join(manifest.select(col("id").as("_mid"), col("toks"),
            col("first_chunk"), col("last_chunk")),
          col("t.doc_id") === col("_mid"), "left")
        .join(listOwners, col("t.doc_id") === col("_lqid"), "left")
        .join(rescoreByNn, col("t.doc_id") === col("_lnn"), "left")
        .select(col("t.doc_id"),
          when(col("c.id").isNotNull, 1L).otherwise(0L)
            .as("was_tracked"),
          col("c.cluster_id"),
          when(col("c.id") === col("c.cluster_id"), 1L)
            .otherwise(when(col("c.id").isNotNull, 0L))
            .as("was_rep"),
          col("cluster_fully_deleted"),
          when(col("toks") > 0L,
            col("last_chunk") - col("first_chunk") + 1L)
            .otherwise(when(col("toks").isNotNull, 0L))
            .as("n_chunks_invalidated"),
          col("toks").as("tokens_removed"),
          when(col("_lqid").isNotNull, 1L).otherwise(0L)
            .as("n_lists_dropped"),
          coalesce(col("_nrescore"), lit(0L))
            .as("n_lists_needing_rescore"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      eg AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, eg.b FROM reach r JOIN eg ON r.dst = eg.a),
      cl AS (SELECT src AS id, min(dst) AS cluster_id
        FROM reach GROUP BY src),
      tb AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0
        UNION ALL SELECT 999999),
      rep AS (SELECT cluster_id,
          CASE WHEN count(*) - sum(CASE WHEN id % 97 = 0 THEN 1
            ELSE 0 END) = 0 THEN 1 ELSE 0 END AS fully
        FROM cl GROUP BY cluster_id
        HAVING sum(CASE WHEN id % 97 = 0 THEN 1 ELSE 0 END) >= 1),
      o AS (SELECT doc_id, source,
          CAST(len($W) AS BIGINT) AS toks,
          CAST(sum(CAST(len($W) AS BIGINT)) OVER (PARTITION BY source
            ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
            - CAST(len($W) AS BIGINT) AS BIGINT) AS so
        FROM documents),
      ev AS (SELECT vec_id, embedding FROM embeddings),
      cv AS MATERIALIZED (SELECT x.vec_id AS xid, y.vec_id AS yid,
        list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(x.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(y.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))) AS cos
        FROM ev x JOIN ev y
        ON x.vec_id % 2 = 0 AND y.vec_id % 2 = 1),
      fw2 AS (SELECT xid AS query_id, yid AS nn_id, row_number() OVER (
          PARTITION BY xid ORDER BY cos DESC, yid) AS r FROM cv),
      bw2 AS (SELECT yid AS query_id, xid AS nn_id, row_number() OVER (
          PARTITION BY yid ORDER BY cos DESC, xid) AS r FROM cv),
      ll AS (SELECT query_id, nn_id FROM fw2 WHERE r <= 4
        UNION ALL SELECT query_id, nn_id FROM bw2 WHERE r <= 4),
      lq2 AS (SELECT DISTINCT query_id FROM ll),
      lr2 AS (SELECT nn_id, CAST(count(*) AS BIGINT) AS n_rescore
        FROM ll WHERE query_id % 97 <> 0 GROUP BY nn_id)
      SELECT t.doc_id,
        CAST(CASE WHEN cl.id IS NULL THEN 0 ELSE 1 END AS BIGINT)
          AS was_tracked,
        cl.cluster_id,
        CASE WHEN cl.id IS NULL THEN NULL
          WHEN cl.id = cl.cluster_id THEN CAST(1 AS BIGINT)
          ELSE CAST(0 AS BIGINT) END AS was_rep,
        CAST(rep.fully AS BIGINT) AS cluster_fully_deleted,
        CASE WHEN o.toks IS NULL THEN NULL
          WHEN o.toks = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST((o.so + o.toks - 1) // 2048 - o.so // 2048 + 1
            AS BIGINT) END AS n_chunks_invalidated,
        o.toks AS tokens_removed,
        CAST(CASE WHEN lq2.query_id IS NULL THEN 0 ELSE 1 END
          AS BIGINT) AS n_lists_dropped,
        CAST(coalesce(lr2.n_rescore, 0) AS BIGINT)
          AS n_lists_needing_rescore
      FROM tb t LEFT JOIN cl ON cl.id = t.doc_id
      LEFT JOIN rep ON rep.cluster_id = cl.cluster_id
      LEFT JOIN o ON o.doc_id = t.doc_id
      LEFT JOIN lq2 ON lq2.query_id = t.doc_id
      LEFT JOIN lr2 ON lr2.nn_id = t.doc_id
      ORDER BY t.doc_id""")
  )

  val all: Seq[Q] = Seq(
    q277_deletion_certificate,
    q122_zorder,
    q143_snapshot_at,
    q144_join_size_audit,
    q150_expectations,
    q152_compaction_plan,
    q153_range_bounds,
    q181_join_advisor,
    q182_provenance,
    q141_integrity_audit,
    q103_schema_evolution,
    q189_encoding_advisor,
    q200_dp_release,
    q251_cc_audit,
    q266_k_anonymity,
    q206_format_roundtrip)
}
