package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Par
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.queries.Catalog.{Q, table, events}
import graft.queries.ExtShared._

/** Deduplication family: exact / n-gram / MinHash-LSH / SimHash / embedding / containment / CDC, clusters, spans, linkage.
  * Split from the former single Extensions.scala (round 7) for
  * navigability — zero behavior change; [[Extensions.all]] still
  * concatenates every family. */
private[graft] object ExtDedup {

  private val q34_dedup_exact = Q(
    "q34_dedup_exact",
    (s, dir) =>
      Dedup.exactGroups(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1 ORDER BY content_hash""")
  )

  private val q35_dedup_ngram_jaccard = Q(
    "q35_dedup_ngram_jaccard",
    (s, dir) =>
      Dedup.ngramJaccardPairs(
        table(s, dir, "documents"), "doc_id", "text", n = 3, minJ = 0.5)
        .orderBy("id_a", "id_b"),
    Some(jaccardOracle)
  )

  private val q253_contrastive_pairs = Q(
    "q253_contrastive_pairs",
    // Training set for a LEARNED dedup model: every LSH-verified
    // near-dup pair is a positive; each positive gets one
    // deterministic LENGTH-MATCHED negative (min doc id in the
    // partner's token-length bucket, excluding the anchor's
    // near-dups) — the anti-shortcut matching that stops a model
    // from learning "similar length => duplicate". The oracle
    // rebuilds positives from exact Jaccard and replays the exact
    // same negative pick.
    (s, dir) =>
      Dedup.contrastivePairs(
        table(s, dir, "documents"), "doc_id", "text",
        n = 3, bands = 32, rowsPerBand = 4, minJ = 0.5,
        lenBucket = 16)
        .orderBy("label", "anchor", "partner"),
    Some(s"""WITH g AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS a, b.doc_id AS b
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= 0.5),
      bk AS (SELECT doc_id, len($W) // 16 AS bkt FROM documents),
      cand AS (SELECT p.a, p.b, c.doc_id AS cand FROM p
        JOIN bk tb ON tb.doc_id = p.b
        JOIN bk c ON c.bkt = tb.bkt AND c.doc_id <> p.a
          AND c.doc_id <> p.b),
      negc AS (SELECT cand.* FROM cand LEFT JOIN p pp
          ON pp.a = least(cand.a, cand.cand)
          AND pp.b = greatest(cand.a, cand.cand)
        WHERE pp.a IS NULL),
      neg AS (SELECT a, b, min(cand) AS neg FROM negc GROUP BY 1, 2)
      SELECT a AS anchor, b AS partner, CAST(1 AS BIGINT) AS label
        FROM p
      UNION ALL SELECT a, neg, CAST(0 AS BIGINT) FROM neg
      ORDER BY label, anchor, partner""")
  )

  private val q36_dedup_minhash_lsh = Q(
    "q36_dedup_minhash_lsh",
    // LSH candidates + exact verification: with bands=32, rows=4 a
    // 0.9-similar pair is missed with p≈1e-15, and the fixture's
    // planted near-dups are all J>=0.9 — so the exact-Jaccard oracle
    // holds (verified; the computation is fully deterministic).
    (s, dir) =>
      Dedup.minHashLshPairs(
        table(s, dir, "documents"), "doc_id", "text",
        n = 3, bands = 32, rowsPerBand = 4, minJ = 0.5)
        .orderBy("id_a", "id_b"),
    Some(jaccardOracle)
  )

  private val q37_dedup_simhash = Q(
    "q37_dedup_simhash",
    // SimHash with md5-derived token hashes: Kernels.md5Lower64 is
    // bit-for-bit DuckDB's md5_number_lower, so the banded pigeonhole
    // join gains a full independent oracle that recomputes every
    // fingerprint in SQL (previously rows-only with xxhash64 tokens —
    // the xxhash64 variant remains the fast production default and is
    // spec-pinned in DedupSpec).
    (s, dir) =>
      Dedup.simHashPairs(table(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, md5Tokens = true)
        .orderBy("id_a", "id_b"),
    Some(s"""WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest($W) AS tok FROM documents),
      th AS MATERIALIZED (
        SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
      bits AS (
        SELECT doc_id, j,
          sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th, range(64) t(j) GROUP BY doc_id, j),
      fps AS (
        SELECT doc_id,
          sum(CASE WHEN s > 0 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS ufp
        FROM bits GROUP BY doc_id),
      fp AS (
        SELECT d.doc_id,
          CAST(CASE WHEN coalesce(f.ufp, 0) >= 9223372036854775808::HUGEINT
            THEN coalesce(f.ufp, 0) - 18446744073709551616::HUGEINT
            ELSE coalesce(f.ufp, 0) END AS BIGINT) AS fp
        FROM documents d LEFT JOIN fps f USING (doc_id))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
      ORDER BY id_a, id_b""")
  )

  private val q66_dedup_incremental = Q(
    "q66_dedup_incremental",
    // Incremental dedup: the second half of the corpus arrives as a
    // new batch and is deduped within itself and against the first
    // half's digest index — the existing corpus is never rescanned.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val known = Dedup.exactGroups(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
        .select("content_hash")
      Dedup.exactDedupIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", known)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    },
    Some("""WITH known AS (SELECT DISTINCT md5(text) AS h
        FROM documents WHERE doc_id < 250),
      batch AS (SELECT * FROM documents WHERE doc_id >= 250),
      kept AS (SELECT * FROM batch QUALIFY
        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
      SELECT doc_id, source, lang FROM kept
      WHERE md5(text) NOT IN (SELECT h FROM known)
      ORDER BY doc_id""")
  )

  private val q65_dedup_clusters = Q(
    "q65_dedup_clusters",
    // Pair list -> duplicate clusters: minHashLshPairs (== exact
    // Jaccard pairs on the fixture, proven by q36) resolved into
    // connected components by min-label propagation. The oracle
    // recomputes components from the exact pair graph with a
    // recursive transitive-closure CTE.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      Dedup.duplicateClusters(docs.select("doc_id"), pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)
      SELECT src AS doc_id, min(dst) AS cluster_id
      FROM reach GROUP BY src ORDER BY doc_id""")
  )

  private val q38_dedup_embedding = Q(
    "q38_dedup_embedding",
    // Exact pairwise cosine >= 0.4 (59 pairs at sf0.01). The kernel
    // casts float->double then folds left-to-right — bitwise equal to
    // the DuckDB sequential list_aggregate sum, so no rounding needed.
    (s, dir) =>
      Dedup.embeddingCosinePairs(
        table(s, dir, "embeddings"), "vec_id", "embedding", minCos = 0.4)
        .orderBy("id_a", "id_b"),
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') AS d,
        sqrt(list_aggregate(list_transform(a.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS na,
        sqrt(list_aggregate(list_transform(b.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nb
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, d / (na * nb) AS cos FROM p
      WHERE d / (na * nb) >= 0.4 ORDER BY id_a, id_b""")
  )

  private val q56_dedup_embedding_ann = Q(
    "q56_dedup_embedding_ann",
    // The 100 TB spelling of embedding near-dup, oracle-checked: LSH
    // candidates -> exact cosine verify (Dedup.embeddingNearDupPairs),
    // never the O(n²) pairwise operator q38 runs. The fixture's
    // organic pairs top out at cos 0.513, so the query plants
    // deterministic near-dups — a 0.5x-scaled copy of each vec_id<100
    // vector (halving floats is exact, so DuckDB rebuilds the same
    // corpus bitwise; same direction => identical sign buckets =>
    // LSH recall is structurally 1.0 at this threshold). The oracle
    // recomputes the EXACT pairs >= 0.99 over the augmented corpus:
    // equality proves the composed path loses nothing.
    (s, dir) => {
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x * lit(0.5f)).cast("float")).as("embedding"))
      val corpus = e.unionByName(planted)
      Dedup.embeddingNearDupPairs(
        corpus, "vec_id", "embedding", minCos = 0.99,
        tables = 8, bits = 12)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
      planted AS (SELECT vec_id + 10000 AS vec_id,
        list_transform(embedding, x -> CAST(x * 0.5::REAL AS REAL)) AS embedding
        FROM e0 WHERE vec_id < 100),
      e AS (SELECT * FROM e0 UNION ALL SELECT * FROM planted),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') AS d,
        sqrt(list_aggregate(list_transform(a.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS na,
        sqrt(list_aggregate(list_transform(b.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nb
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, d / (na * nb) AS cos FROM p
      WHERE d / (na * nb) >= 0.99 ORDER BY id_a, id_b""")
  )

  private val q127_resolve_best = Q(
    "q127_resolve_best",
    // Quality-policy duplicate resolution: same LSH near-dup cluster
    // graph as q65/q72, but each cluster keeps its BEST member by
    // n_chars (ties to the smaller id) instead of its min id — the
    // curation-correct choice when a cluster holds one clean original
    // and N truncated copies. argmax via one partial-agg max over
    // (score, -id) structs; no window over cluster members.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      Dedup.resolveDuplicatesBy(docs, "doc_id", "n_chars", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          col("score"), col("keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      c AS (SELECT src AS id, min(dst) AS cluster_id
        FROM reach GROUP BY src),
      sc AS (SELECT c.id, c.cluster_id, CAST(d.n_chars AS DOUBLE) AS score
        FROM c JOIN documents d ON c.id = d.doc_id),
      b AS (SELECT cluster_id, id AS keep_id FROM (
        SELECT cluster_id, id, row_number() OVER (PARTITION BY cluster_id
          ORDER BY score DESC, id) AS rk FROM sc) WHERE rk = 1)
      SELECT sc.id AS doc_id, sc.cluster_id, sc.score,
        sc.id = b.keep_id AS keep
      FROM sc JOIN b USING (cluster_id) ORDER BY doc_id""")
  )

  private val q145_dedup_attrition = Q(
    "q145_dedup_attrition",
    // Dedup attrition by source: raw vs kept doc/token counts under
    // the q127 best-member policy — the numbers a mixture designer
    // must use instead of raw token totals (a source that is largely
    // near-dups is smaller than it looks). Same LSH cluster graph
    // and argmax as q127; all emitted counts are exact integer sums.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      Dedup.dedupAttrition(
        docs.withColumn("toks", TextFunctions.tokenCount(col("text"))),
        "doc_id", "n_chars", "source", "toks", pairs)
        .orderBy("group")
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      c AS (SELECT src AS id, min(dst) AS cluster_id
        FROM reach GROUP BY src),
      sc AS (SELECT c.id, c.cluster_id, CAST(d.n_chars AS DOUBLE) AS score
        FROM c JOIN documents d ON c.id = d.doc_id),
      b AS (SELECT cluster_id, id AS keep_id FROM (
        SELECT cluster_id, id, row_number() OVER (PARTITION BY cluster_id
          ORDER BY score DESC, id) AS rk FROM sc) WHERE rk = 1),
      k AS (SELECT sc.id, sc.id = b.keep_id AS keep
        FROM sc JOIN b USING (cluster_id))
      SELECT d.source AS "group",
        CAST(count(*) AS BIGINT) AS n_raw,
        CAST(sum(len($W)) AS BIGINT) AS tokens_raw,
        CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN k.keep THEN len($W) ELSE 0 END) AS BIGINT)
          AS tokens_kept
      FROM documents d JOIN k ON d.doc_id = k.id
      GROUP BY d.source ORDER BY d.source""")
  )

  private val q176_containment = Q(
    "q176_containment",
    // Asymmetric near-dup: directed containment pairs at 0.8 over
    // 3-gram sets (wrapper / quote-with-commentary detection) —
    // one-sided prefix filter against postings, exact HashSet
    // verify, one division. maxDf=20 is the PPJoin boilerplate
    // guard: grams in > 20 documents leave the measure entirely
    // (candidates AND verification), bounding every posting list a
    // prefix can join — at sf0.01 no gram reaches the cap (results
    // identical to uncapped); at sf0.1 it retires the ~59 hottest
    // postings. The oracle re-scores every ordered pair over the
    // SAME df-capped vocabulary.
    (s, dir) =>
      graft.operators.Dedup.containmentPairs(
        table(s, dir, "documents"), "doc_id", "text",
        n = 3, minC = 0.8, maxDf = Some(20))
        .orderBy("id_a", "id_b"),
    Some(s"""WITH g0 AS (SELECT doc_id, ${ngrams3(W)} AS s0
        FROM documents),
      p AS (SELECT doc_id, unnest(s0) AS gm FROM g0),
      keep AS (SELECT gm FROM (SELECT gm, count(*) AS df FROM p
        GROUP BY 1) WHERE df <= 20),
      g AS (SELECT p.doc_id, list(p.gm) AS s FROM p
        JOIN keep USING (gm) GROUP BY p.doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
          AS containment
      FROM g a JOIN g b ON a.doc_id <> b.doc_id
      WHERE len(a.s) > 0 AND
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
          >= 0.8
      ORDER BY id_a, id_b""")
  )

  private val q178_crosssource_dups = Q(
    "q178_crosssource_dups",
    // Who duplicates whom: near-dup pair counts by unordered source
    // pair (diagonal = within-source) with the share of all pairs —
    // the mirror-site / syndication report on top of the LSH pair
    // graph.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      val src = docs.select(col("doc_id"), col("source"))
      val tagged = pairs
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("_sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("_sb")), "id_b")
        .select(least(col("_sa"), col("_sb")).as("source_a"),
          greatest(col("_sa"), col("_sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
      val total = tagged.agg(sum("n_pairs").as("_t"))
      tagged.crossJoin(broadcast(total))
        .select(col("source_a"), col("source_b"), col("n_pairs"),
          (col("n_pairs").cast("double") / col("_t").cast("double"))
            .as("share"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH g AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= 0.5),
      t AS (SELECT least(da.source, db.source) AS source_a,
          greatest(da.source, db.source) AS source_b,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM p JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
        GROUP BY 1, 2),
      tt AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM t)
      SELECT t.source_a, t.source_b, t.n_pairs,
        CAST(t.n_pairs AS DOUBLE) / CAST(tt.t AS DOUBLE) AS share
      FROM t, tt ORDER BY t.source_a, t.source_b""")
  )

  private val q72_cluster_split = Q(
    "q72_cluster_split",
    // Leakage-free split assignment: near-dup clusters (same LSH pair
    // graph as q65) land wholly in one of 10 buckets. The modulo
    // (hashed=false) spelling is what the oracle can recompute from
    // the recursive-CTE component labels; production uses hashed=true
    // for id-distribution-independent uniformity.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      Dedup.clusterAwareSplit(docs, "doc_id", pairs,
        nBuckets = 10, hashed = false)
        .select(col("id").as("doc_id"), col("cluster_id"), col("bucket"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)
      SELECT src AS doc_id, min(dst) AS cluster_id,
        min(dst) % 10 AS bucket
      FROM reach GROUP BY src ORDER BY doc_id""")
  )

  private val q76_dedup_minhash_incremental = Q(
    "q76_dedup_minhash_incremental",
    // Continuous-ingestion near-dup: the second half of the corpus
    // arrives as a new batch and is LSH-deduped within itself AND
    // against the first half's persisted index — old<->old pairs are
    // never regenerated, the original text never re-read. The oracle
    // recomputes the exact Jaccard pairs that touch the new batch
    // (LSH == exact on the fixture, as q36 pins for the full corpus).
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val idx = Dedup.minHashIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", n = 3,
        bands = 32, rowsPerBand = 4)
      Dedup.minHashLshIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", idx,
        minJ = 0.5, n = 3, bands = 32, rowsPerBand = 4)
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH gg AS (SELECT doc_id, ${ngrams3(W)} AS s FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE b.doc_id >= 250)
      SELECT id_a, id_b, jaccard FROM p
      WHERE jaccard >= 0.5 ORDER BY id_a, id_b""")
  )

  private val q79_dedup_clusters_incremental = Q(
    "q79_dedup_clusters_incremental",
    // Continuous-ingestion clustering, end to end: the old half's
    // labels come from the batch CC (q65's operator), the new half's
    // pairs from the incremental LSH index probe (q76's operator),
    // and duplicateClustersIncremental merges them by running CC over
    // the TOUCHED LABELS ONLY — the old pair set is never re-read,
    // the old corpus never re-clustered. The oracle recomputes the
    // components from scratch over the full exact pair graph with the
    // recursive transitive-closure CTE (old∪new pairs == all pairs,
    // since LSH == exact on the fixture, pinned by q36/q76), so
    // equality proves incremental == batch.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val old = docs.filter(col("doc_id") < 250)
      val fresh = docs.filter(col("doc_id") >= 250)
      // the index is built ONCE per batch (the deployment shape) and
      // feeds both its own within-batch pairs and the new batch's
      // probe — text is shingled exactly once
      val idx = Dedup.minHashIndex(old, "doc_id", "text", n = 3,
        bands = 32, rowsPerBand = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val oldPairs = Dedup.minHashLshPairsFromIndex(idx, minJ = 0.5)
      val existing = Dedup.duplicateClusters(old.select("doc_id"), oldPairs)
      val newPairs = Dedup.minHashLshIncremental(
        fresh, "doc_id", "text", idx, minJ = 0.5, n = 3,
        bands = 32, rowsPerBand = 4)
      val out = Dedup.duplicateClustersIncremental(
        existing, fresh.select("doc_id"), newPairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
        // newPairs' verify stage still holds the index in its lineage:
        // truncate it (labels are small) so the index cache can be
        // released now rather than riding every downstream action
        .localCheckpoint(true)
      idx.unpersist(blocking = false)
      out
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)
      SELECT src AS doc_id, min(dst) AS cluster_id
      FROM reach GROUP BY src ORDER BY doc_id""")
  )

  private val q82_duplicated_spans = Q(
    "q82_duplicated_spans",
    // Substring-level dedup (the Lee-et-al duplicated-passage mode,
    // Spark-shaped as 64-bit gram postings instead of a single-node
    // suffix array): maximal token spans whose every 8-gram appears in
    // >= 2 distinct documents. The fixture's planted near-dup docs
    // share long verbatim runs, so the output is organic, not planted.
    // The oracle recomputes the identical md5_number_lower gram
    // fingerprints, the same gaps-and-islands merge, and the same
    // 1-based token slicing — exact strings, exact positions.
    (s, dir) =>
      Dedup.duplicatedSpans(
        table(s, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2)
        .orderBy("doc_id", "span_start"),
    Some(s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
      g AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
          md5_number_lower(array_to_string(w[u.i:u.i+7], ' ')) AS gh
        FROM toks CROSS JOIN unnest(range(1, len(w) - 6)) AS u(i)),
      dup AS (SELECT gh FROM g GROUP BY gh
        HAVING count(DISTINCT doc_id) >= 2),
      d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
      m AS (SELECT doc_id, pos, CASE WHEN pos >
          coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
            -16) + 8 THEN 1 ELSE 0 END AS brk FROM d),
      isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
          ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g_id FROM m),
      sp AS (SELECT doc_id, min(pos) AS span_start,
          max(pos) + 7 AS span_end FROM isl GROUP BY doc_id, g_id)
      SELECT sp.doc_id, CAST(span_start AS BIGINT) AS span_start,
        CAST(span_end - span_start + 1 AS BIGINT) AS n_tokens,
        array_to_string(w[span_start:span_end], ' ') AS span_text
      FROM sp JOIN toks ON sp.doc_id = toks.doc_id
      ORDER BY sp.doc_id, span_start""")
  )

  private val q95_remove_spans = Q(
    "q95_remove_spans",
    // Detection -> action: every duplicated 8-gram span excised from
    // every document, cleaned text + token accounting emitted for ALL
    // docs. The oracle reruns the q82 span logic, anti-joins the
    // covered positions, and rebuilds each doc's kept-token stream in
    // position order — exact strings, exact counts.
    (s, dir) =>
      Dedup.removeDuplicatedSpans(
        table(s, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2)
        // always-true filter on a COMPUTED column: without it, a
        // count()-shaped action lets Catalyst eliminate the unique-key
        // left join and the whole detection subtree (bench would time
        // a table scan, not the operator); the oracle is unaffected
        .filter(col("kept_tokens") >= 0L)
        .orderBy("doc_id"),
    Some(s"""WITH toks AS (SELECT doc_id, $W AS w FROM documents),
      g AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
          md5_number_lower(array_to_string(w[u.i:u.i+7], ' ')) AS gh
        FROM toks CROSS JOIN unnest(range(1, len(w) - 6)) AS u(i)),
      dup AS (SELECT gh FROM g GROUP BY gh
        HAVING count(DISTINCT doc_id) >= 2),
      d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
      m AS (SELECT doc_id, pos, CASE WHEN pos >
          coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
            -16) + 8 THEN 1 ELSE 0 END AS brk FROM d),
      isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
          ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g_id FROM m),
      sp AS (SELECT doc_id, min(pos) AS span_start,
          max(pos) + 7 AS span_end FROM isl GROUP BY doc_id, g_id),
      tokpos AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, w[u.i] AS tok
        FROM toks CROSS JOIN unnest(range(1, len(w) + 1)) AS u(i)),
      dropped AS (SELECT DISTINCT tp.doc_id, tp.pos FROM tokpos tp
        JOIN sp ON tp.doc_id = sp.doc_id
          AND tp.pos BETWEEN sp.span_start AND sp.span_end),
      kept AS (SELECT t.doc_id, t.pos, t.tok FROM tokpos t
        LEFT JOIN dropped d ON t.doc_id = d.doc_id AND t.pos = d.pos
        WHERE d.pos IS NULL),
      agg AS (SELECT doc_id,
          array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
          CAST(count(*) AS BIGINT) AS kept_tokens
        FROM kept GROUP BY doc_id)
      SELECT toks.doc_id,
        coalesce(agg.clean_text, '') AS clean_text,
        coalesce(agg.kept_tokens, 0) AS kept_tokens,
        CAST(len(toks.w) AS BIGINT) - coalesce(agg.kept_tokens, 0)
          AS removed_tokens
      FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id
      ORDER BY toks.doc_id""")
  )

  private val q78_source_overlap = Q(
    "q78_source_overlap",
    // Provenance audit: distinct 3-grams shared between every pair of
    // sources — the mirrored-corpus detector. Join fan-out per gram is
    // sources², never docs².
    (s, dir) =>
      graft.operators.Boilerplate.sourceOverlap(
        table(s, dir, "documents"), "source", "text", n = 3)
        .orderBy("source_a", "source_b"),
    Some(s"""WITH sg AS (SELECT DISTINCT source AS src, g
        FROM (SELECT source, unnest(${ngrams3(W)}) AS g FROM documents)),
      p AS (SELECT a.src AS source_a, b.src AS source_b
        FROM sg a JOIN sg b ON a.g = b.g AND a.src < b.src)
      SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS shared_grams
      FROM p GROUP BY source_a, source_b ORDER BY source_a, source_b""")
  )

  private val q186_name_links = Q(
    "q186_name_links",
    // Entity resolution on the part-name dictionary: every distinct-
    // name pair within edit distance 2, Ed-Join q-gram count-filter
    // blocking + native levenshtein verify; row counts ride along.
    // The oracle is the quadratic ground truth over the dictionary —
    // a blocking recall miss IS an oracle mismatch.
    (s, dir) =>
      graft.operators.Linkage.nameVariantPairs(
        table(s, dir, "part"), "p_name", maxDist = 2, q = 2)
        .orderBy("name_a", "name_b"),
    Some("""WITH n AS (SELECT p_name AS name,
        CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY 1)
      SELECT a.name AS name_a, b.name AS name_b,
        CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        a.cnt AS n_a, b.cnt AS n_b
      FROM n a JOIN n b ON a.name < b.name
        AND abs(length(a.name) - length(b.name)) <= 2
        AND levenshtein(a.name, b.name) <= 2
      ORDER BY name_a, name_b""")
  )

  private val q203_cdc_chunks = Q(
    "q203_cdc_chunks",
    // Content-defined chunking dedup: docs 0..99 plus SHIFTED copies
    // (a 15-char prefix insertion). CDC boundaries depend only on
    // local content, so the copies re-synchronize after the first
    // boundary and their later chunks collide by md5 — the property
    // fixed-size blocks lose. The oracle re-derives every boundary
    // (all window positions via md5_number_lower), every chunk md5,
    // and every cross-doc duplicate count.
    (s, dir) => {
      val base = table(s, dir, "documents")
        .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      val corpus = base.unionAll(base.select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(lit("shifted prefix "), col("text")).as("text")))
      graft.operators.Dedup.cdcChunkTable(
        corpus, "doc_id", "text", window = 16, modulus = 64)
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH d0 AS (SELECT doc_id, text FROM documents
        WHERE doc_id < 100),
      d AS (SELECT doc_id, text, len(text) AS n FROM (
        SELECT doc_id, text FROM d0
        UNION ALL SELECT doc_id + 100000,
          'shifted prefix ' || text FROM d0)),
      p AS (SELECT d.doc_id, u.p AS p FROM d
        CROSS JOIN unnest(range(16, n + 1)) AS u(p)
        WHERE (md5_number_lower(
          substr(text, CAST(u.p AS INT) - 15, 16)) >> 11) % 64 = 0),
      e AS (SELECT d.doc_id, d.text, list_sort(list_distinct(
          COALESCE(list(p.p), CAST([] AS BIGINT[])) || [CAST(d.n AS BIGINT)]))
          AS ends
        FROM d LEFT JOIN p ON p.doc_id = d.doc_id
        GROUP BY d.doc_id, d.text, d.n),
      ch AS (SELECT doc_id, text,
          CAST(u.i + 1 AS BIGINT) AS chunk_idx,
          CASE WHEN u.i = 0 THEN 1 ELSE ends[CAST(u.i AS INT)] + 1
            END AS start,
          ends[CAST(u.i + 1 AS INT)] AS e
        FROM e CROSS JOIN unnest(range(0, len(ends))) AS u(i)),
      c2 AS (SELECT doc_id, chunk_idx, CAST(start AS BIGINT) AS start,
          CAST(e - start + 1 AS BIGINT) AS chunk_len,
          md5(substr(text, CAST(start AS INT),
            CAST(e - start + 1 AS INT))) AS chunk_md5
        FROM ch),
      g AS (SELECT chunk_md5,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
        FROM c2 GROUP BY 1)
      SELECT c2.doc_id, c2.chunk_idx, c2.start, c2.chunk_len,
        c2.chunk_md5, g.docs - 1 AS dup_docs
      FROM c2 JOIN g USING (chunk_md5)
      ORDER BY c2.doc_id, c2.chunk_idx""")
  )

  private val q211_sorted_neighborhood = Q(
    "q211_sorted_neighborhood",
    // The OTHER entity-resolution blocking beside q186's q-gram
    // filter: sorted-neighborhood — candidates within 32 positions in
    // sorted dictionary order, levenshtein-verified. O(n*w) total
    // candidates regardless of content (q-gram blocking can
    // degenerate); recall cost (leading-char typos sort far away)
    // documented. Global ranks via range-partition + zipWithIndex —
    // no global window; the oracle replays rank windows and the
    // verify exactly.
    (s, dir) =>
      graft.operators.Linkage.sortedNeighborhood(
        table(s, dir, "part"), "p_name", window = 32, maxDist = 2)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("name_a", "name_b"),
    Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
      r AS (SELECT name, row_number() OVER (ORDER BY name) - 1
          AS rank FROM n)
      SELECT a.name AS name_a, b.name AS name_b,
        CAST(b.rank - a.rank AS BIGINT) AS rank_gap,
        CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      FROM r a JOIN r b ON b.rank > a.rank AND b.rank - a.rank < 32
      WHERE levenshtein(a.name, b.name) <= 2
      ORDER BY name_a, name_b""")
  )

  private val q221_dedup_threshold_sweep = Q(
    "q221_dedup_threshold_sweep",
    // Dedup-cutoff ablation BEFORE committing to a threshold: the
    // exact prefix-filtered pair set at minJ=0.4 histogrammed into
    // similarity bands, with per-band pair/doc counts and the
    // cumulative pairs a cutoff at each band would remove. Exact
    // recall by the AllPairs theorem (an LSH sweep would undercount
    // the low bands); the cumulative uses a 6-row triangular join,
    // never a global window.
    (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        table(s, dir, "documents"), "doc_id", "text",
        n = 3, minJ = 0.4)
        .select(col("id_a"), col("id_b"),
          least(floor(col("jaccard") * 10).cast("long"), lit(9L))
            .as("band"))
      val hist = pairs.groupBy("band")
        .agg(count(lit(1)).as("n_pairs"))
      val docsB = pairs
        .select(col("band"),
          explode(array(col("id_a"), col("id_b"))).as("_d"))
        .distinct()
        .groupBy("band").agg(count(lit(1)).as("n_docs"))
      val grid = s.range(4, 10).select(col("id").as("band"))
      val z = grid
        .join(hist, Seq("band"), "left")
        .join(docsB, Seq("band"), "left")
        .na.fill(0L, Seq("n_pairs", "n_docs"))
      val cum = z.as("x")
        .join(z.select(col("band").as("_b2"),
          col("n_pairs").as("_np2")), col("_b2") >= col("band"))
        .groupBy("band").agg(sum("_np2").as("cum_pairs"))
      z.join(cum, "band")
        .select(col("band"),
          (col("band").cast("double") / 10.0).as("threshold"),
          col("n_pairs"), col("n_docs"), col("cum_pairs"))
        .orderBy("band")
    },
    Some(s"""WITH g AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
            AS j
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= 0.4),
      pb AS (SELECT id_a, id_b,
          least(CAST(floor(j * 10) AS BIGINT), 9) AS band FROM p),
      h AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
        FROM pb GROUP BY 1),
      db AS (SELECT band, CAST(count(*) AS BIGINT) AS n_docs FROM (
          SELECT DISTINCT band, d FROM (
            SELECT band, unnest([id_a, id_b]) AS d FROM pb))
        GROUP BY 1),
      grid AS (SELECT u.band AS band FROM unnest(range(4, 10))
        AS u(band)),
      z AS (SELECT g.band, COALESCE(h.n_pairs, 0) AS n_pairs,
          COALESCE(db.n_docs, 0) AS n_docs
        FROM grid g LEFT JOIN h ON h.band = g.band
        LEFT JOIN db ON db.band = g.band),
      c AS (SELECT x.band, CAST(sum(y.n_pairs) AS BIGINT)
          AS cum_pairs
        FROM z x JOIN z y ON y.band >= x.band GROUP BY 1)
      SELECT z.band, CAST(z.band AS DOUBLE) / 10.0 AS threshold,
        z.n_pairs, z.n_docs, c.cum_pairs
      FROM z JOIN c ON c.band = z.band ORDER BY z.band""")
  )

  private val q270_dedup_sweep_eval = Q(
    "q270_dedup_sweep_eval",
    // The q221 threshold sweep CLOSED INTO A DECISION METRIC (the r9
    // verdict's suggested pull — a q268-style before/after eval):
    // for every candidate dedup cutoff, the retrieval quality that
    // SURVIVES it. Dedup at threshold t drops the higher id of every
    // pair with jaccard >= t (the LOCAL rule, not q127's cluster
    // best-member policy — deliberately: the local rule is
    // threshold-MONOTONE, D_t2 ⊆ D_t1 for t2 > t1, which is what
    // lets one slack-bounded k-NN list serve the whole grid); the
    // eval then asks, for a FIXED sampled query population, how much
    // same-label material remains reachable in the surviving corpus
    // — P@10 / MRR / nDCG@10 per band, means folded in query order.
    // Labels (and nDCG's ideal) stay the FULL corpus's: the question
    // is what the cutoff removed from reach, so the ideal must not
    // shrink with it. Band 10 is the no-dedup baseline (pair bands
    // cap at 9), so the before/after delta is read off adjacent
    // rows. Shape: ONE exact scoring pass for the sampled queries
    // (the q263 population), then per-band top-10 from ONE window
    // pass: the (cos desc, id) sort the ranking needs anyway also
    // computes SEVEN running survivor counts (one conditional sum
    // per band over the same window frame), and a row is band b's
    // rank-r survivor exactly when it survives b and its running
    // count is <= 10. Nothing scales with the DROP SET's size - the
    // first spelling kept 10 + |D_0.4| rows per query and expanded
    // those x7, which MEASURED superlinear (x3 corpus -> 5.7x wall:
    // |D| grows with the corpus and multiplies the query
    // population); this one adds only 7 aggregates to the sort it
    // already pays, and the x7 band expansion runs pipelined on the
    // sorted rows with <= 70 kept per query. ONE labelEval keyed by
    // band scores the whole grid ([[graft.operators.Retrieval
    // .labelEval]]'s extraKeys). Supplier since r12: MinHash-LSH
    // candidates -> exact-Jaccard verify (the q36 path; the r11 knee
    // probe measured the prefix-filter AllPairs supplier at 5.8x per
    // x3 corpus — bucketed LSH tracks collision mass instead). At
    // 100 TB the scorer swaps for the gated ANN lists (q263's
    // argument applies unchanged).
    (s, dir) => dedupSweepEval(s, dir, pinnedQidBound = None),
    Some(q270OracleSql)
  )

  /** q270's pipeline, factored so the SCALING probe can PIN the query
    * population (`pinnedQidBound`: only vec_id < bound queries — on a
    * ScaleUp fixture the original-id range, so the population stays
    * FIXED while the corpus grows and the scorer's post-knee linear
    * asymptote is measurable instead of argued; the pinned mode skips
    * the derivedSampleMod fail-fast because it aligns with no static
    * oracle). The catalog query passes None — behavior unchanged. */
  private[graft] def dedupSweepEval(
      s: org.apache.spark.sql.SparkSession, dir: String,
      pinnedQidBound: Option[Long]): org.apache.spark.sql.DataFrame = {
    {
      graft.expressions.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val e = table(s, dir, "embeddings")
      val effMod = pinnedQidBound match {
        case Some(_) => 10L // probe mode: fixed population, no oracle
        case None => derivedSampleMod(e, dir, 10L, "q270 eval-population")
      }
      // banded drop set: did dropped at band b iff mb >= b (monotone).
      // Supplier is LSH candidates → exact-Jaccard verify (r11 verdict
      // #4: the prefix-filter AllPairs supplier measured 5.8× at ×3 —
      // its posting self-join grows with collision mass; the banded
      // LSH join tracks bucket collisions). The verify step keeps
      // every EMITTED pair's jaccard exact, so the band mapping is
      // bitwise; completeness is the q36 argument — the fixtures'
      // true ≥0.4 pairs all sit at J >= 0.8 where a 32×4 LSH miss is
      // p <= 5e-8 per pair and the hashing is deterministic
      // (DedupSpec pins LSH == exact at minJ=0.4 on the fixture).
      val lsh = Dedup.minHashLshPairs(
          docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
          minJ = 0.4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // COUNTED band-safety guard (r12 ADVICE): the bitwise-oracle
      // claim above was a fixture PROPERTY pinned only in DedupSpec;
      // this guard is a statistical canary for it, not a
      // precondition. An emitted pair below J = 0.7 means the corpus
      // left the regime where the miss bound holds (a 32-band × 4-row
      // LSH misses a true pair at p = (1 − J^4)^32: ≈ 1.5e-4 at
      // J = 0.7, ~13% at 0.5, ~44% at 0.4) — the pairs LSH DID emit
      // stay exact either way, but pairs it MISSED would silently
      // diverge from the exact-Jaccard DuckDB oracle, so it fails
      // loud with the fix. It sees only emitted pairs: a corpus whose
      // true pairs in [0.4, 0.7) LSH all missed passes it, with
      // probability the product of their miss probabilities — up to
      // 0.44 for a lone pair at J = 0.4, 0.44^k for k such pairs.
      // Probe mode (pinnedQidBound) skips the guard for the same
      // reason it skips the derivedSampleMod fail-fast: it aligns
      // with no oracle, so there is no bitwise claim to protect —
      // and the ScaleUp ×3 fixture DOES trip it (2 true pairs in
      // [0.4, 0.7) from the perturbed copies), which is the guard
      // catching a real regime break, not a probe defect.
      val nRisk =
        if (pinnedQidBound.isDefined) 0L
        else lsh.filter(col("jaccard") < 0.7).count()
      require(nRisk == 0L,
        s"q270's LSH supplier emitted $nRisk pairs with jaccard in " +
          "[0.4, 0.7) — this corpus has true near-threshold pairs, " +
          "where a 32x4 LSH can miss (p up to ~0.44 at J = 0.4) and " +
          "the exact-Jaccard oracle may silently diverge. Raise the " +
          "band count (bands x rows) for this corpus, or swap the " +
          "supplier to the exact q36 path and re-pin the knee probe.")
      val drops = lsh
        .select(col("id_b").as("did"),
          least(floor(col("jaccard") * 10).cast("long"), lit(9L))
            .as("pb"))
        .groupBy("did").agg(max("pb").as("mb"))
      val grid = s.range(4, 11).select(col("id").as("band"))
      // survivor bookkeeping over documents (exact integer counts)
      val total = docs.agg(count(lit(1)).as("_tot"))
      val nd = grid.join(drops, col("mb") >= col("band"), "left")
        .groupBy("band").agg(count(col("did")).as("_ndrop"))
        .crossJoin(broadcast(total))
        .select(col("band"), (col("_tot") - col("_ndrop")).as("n_docs"))
      // one exact scoring pass; the (cos desc, id) window computes
      // SEVEN running survivor counts alongside the sort it already
      // owes (explicit ROWS frame — both engines' unique ordering
      // makes RANGE equal, but say what is meant), so per-band
      // top-10 costs no slack expansion and nothing here scales
      // with |drops| (see the header: the slack-list spelling
      // measured 5.7x wall at x3 corpus)
      val qs = e.filter(col("vec_id") % effMod === 0 &&
          pinnedQidBound.map(b => col("vec_id") < b).getOrElse(lit(true)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = e.select(col("vec_id").as("nn_id"),
          col("embedding").as("cv"))
        .join(broadcast(qs), col("nn_id") =!= col("query_id"))
        .select(col("query_id"), col("nn_id"),
          call_function("graft_cosine", col("qv"), col("cv")).as("cos"))
        .join(drops.select(col("did"), col("mb")),
          col("nn_id") === col("did"), "left")
        .withColumn("_mb", coalesce(col("mb"), lit(-1L)))
      val w0 = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("nn_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bands = (4 to 10).map(_.toLong)
      val counted = scored.select(
        Seq(col("query_id"), col("nn_id"), col("_mb")) ++
          bands.map(b => sum(when(col("_mb") < b, 1L).otherwise(0L))
            .over(w0).as(s"_rb$b")): _*)
      // a row is band b's rank-r survivor iff it survives b and its
      // running survivor count is <= 10; the x7 expansion runs
      // pipelined on the sorted output, keeping <= 70 rows per query
      val top = counted
        .select(col("query_id"), col("nn_id"), col("_mb"),
          explode(array(bands.map(b => struct(lit(b).as("band"),
            col(s"_rb$b").as("rank"))): _*)).as("_s"))
        .filter(col("_mb") < col("_s.band") && col("_s.rank") <= 10L)
        .select(col("_s.band").as("band"), col("query_id"),
          col("_s.rank").as("rank"), col("nn_id"))
      val perQ = graft.operators.Retrieval.labelEval(
        top, e, "vec_id", "label", k = 10, extraKeys = Seq("band"))
      // per-band means, folded in query_id order (bitwise: the q94
      // discipline); nDCG means skip its nulls in both engines
      val m = perQ.groupBy("band").agg(
        count(lit(1)).as("_nq"),
        sort_array(collect_list(struct(col("query_id"),
          col("p_at_k"), col("mrr"), col("ndcg")))).as("_ss"))
      val nn = filter(col("_ss"), x => x.getField("ndcg").isNotNull)
      def meanOf(field: String, over: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column) =
        round(aggregate(over, lit(0.0),
          (acc, x) => acc + x.getField(field)) / n.cast("double"), 6)
      // 7-row result: collect to a local relation so the guard's
      // persisted supplier can be dropped before the query returns
      // (the lazy spelling would recompute the LSH pass at the
      // caller's materialization)
      val out = collectToLocal(
        m.join(nd, "band")
          .select(col("band"),
            (col("band").cast("double") / 10.0).as("threshold"),
            col("n_docs"),
            meanOf("p_at_k", col("_ss"), col("_nq")).as("mean_p_at_k"),
            meanOf("mrr", col("_ss"), col("_nq")).as("mean_mrr"),
            when(size(nn) >= 1,
              meanOf("ndcg", nn, size(nn))).as("mean_ndcg")),
        "q270 per-band sweep")
      lsh.unpersist(blocking = false)
      out.orderBy("band")
    }
  }

  // lazy: referenced by the q270 Q val ABOVE its definition — a plain
  // val would still be null at that point in the object's init order
  private lazy val q270OracleSql: String =
    s"""WITH g AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
            AS j
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= 0.4),
      drops AS (SELECT id_b AS did,
          max(least(CAST(floor(j * 10) AS BIGINT), 9)) AS mb
        FROM p GROUP BY 1),
      grid AS (SELECT u.band AS band FROM unnest(range(4, 11))
        AS u(band)),
      nd AS (SELECT g2.band,
          (SELECT CAST(count(*) AS BIGINT) FROM documents) -
            CAST(count(d.did) AS BIGINT) AS n_docs
        FROM grid g2 LEFT JOIN drops d ON d.mb >= g2.band
        GROUP BY g2.band),
      e AS (SELECT vec_id, embedding, label FROM embeddings),
      co AS (SELECT q.vec_id AS query_id, q.label AS qlab,
        c.vec_id AS nn_id, c.label AS clab,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))) AS cos
        FROM e q JOIN e c ON q.vec_id % 10 = 0 AND c.vec_id <> q.vec_id),
      r AS MATERIALIZED (SELECT co.query_id, co.qlab, co.nn_id,
          co.clab, coalesce(d.mb, -1) AS mb,
          sum(CASE WHEN coalesce(d.mb, -1) < 4 THEN 1 ELSE 0 END)
            OVER wq AS rb4,
          sum(CASE WHEN coalesce(d.mb, -1) < 5 THEN 1 ELSE 0 END)
            OVER wq AS rb5,
          sum(CASE WHEN coalesce(d.mb, -1) < 6 THEN 1 ELSE 0 END)
            OVER wq AS rb6,
          sum(CASE WHEN coalesce(d.mb, -1) < 7 THEN 1 ELSE 0 END)
            OVER wq AS rb7,
          sum(CASE WHEN coalesce(d.mb, -1) < 8 THEN 1 ELSE 0 END)
            OVER wq AS rb8,
          sum(CASE WHEN coalesce(d.mb, -1) < 9 THEN 1 ELSE 0 END)
            OVER wq AS rb9,
          sum(CASE WHEN coalesce(d.mb, -1) < 10 THEN 1 ELSE 0 END)
            OVER wq AS rb10
        FROM co LEFT JOIN drops d ON d.did = co.nn_id
        WINDOW wq AS (PARTITION BY co.query_id
          ORDER BY co.cos DESC, co.nn_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      b AS (SELECT g2.band, r.query_id, r.qlab, r.clab,
          list_extract([rb4, rb5, rb6, rb7, rb8, rb9, rb10],
            CAST(g2.band - 3 AS INTEGER)) AS rank
        FROM grid g2 JOIN r ON r.mb < g2.band),
      t AS (SELECT band, query_id, qlab, rank,
          CASE WHEN clab = qlab THEN 1 ELSE 0 END AS rel
        FROM b WHERE rank <= 10),
      lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM e
        GROUP BY 1),
      pq AS (SELECT t.band, t.query_id, least(lc.c - 1, 10) AS n_rel,
          CAST(sum(t.rel) AS BIGINT) AS nhit,
          min(CASE WHEN t.rel = 1 THEN t.rank END) AS first,
          list_aggregate(list(CASE WHEN t.rel = 1
            THEN 1.0 / (ln(t.rank + 1.0) / ln(2.0)) ELSE 0.0 END
            ORDER BY t.rank), 'sum') AS dcg
        FROM t JOIN lc ON lc.label = t.qlab
        GROUP BY t.band, t.query_id, lc.c),
      met AS (SELECT band, query_id, n_rel,
          round(nhit / 10.0, 6) AS p_at_k,
          round(CASE WHEN first IS NULL THEN 0.0
            ELSE 1.0 / first END, 6) AS mrr,
          round(dcg / CASE WHEN n_rel >= 1 THEN
            list_aggregate(list_transform(range(1, n_rel + 1),
              x -> 1.0 / (ln(CAST(x AS DOUBLE) + 1.0) / ln(2.0))),
              'sum') END, 6) AS ndcg
        FROM pq),
      agg AS (SELECT band,
          CAST(count(*) AS BIGINT) AS nq,
          list_aggregate(list(p_at_k ORDER BY query_id), 'sum') AS sp,
          list_aggregate(list(mrr ORDER BY query_id), 'sum') AS sm,
          list_aggregate(list(ndcg ORDER BY query_id)
            FILTER (WHERE ndcg IS NOT NULL), 'sum') AS sn,
          CAST(count(ndcg) AS BIGINT) AS nn
        FROM met GROUP BY band)
      SELECT a.band, CAST(a.band AS DOUBLE) / 10.0 AS threshold,
        nd.n_docs,
        round(sp / CAST(nq AS DOUBLE), 6) AS mean_p_at_k,
        round(sm / CAST(nq AS DOUBLE), 6) AS mean_mrr,
        CASE WHEN nn >= 1 THEN round(sn / CAST(nn AS DOUBLE), 6)
          END AS mean_ndcg
      FROM agg a JOIN nd ON nd.band = a.band ORDER BY a.band"""

  private val q271_delete_propagation = Q(
    "q271_delete_propagation",
    // Right-to-be-forgotten blast radius (GDPR art. 17 — the delete
    // batch a production corpus owner must honor): which duplicate
    // clusters does a tombstone set touch, does any cluster lose its
    // canonical REPRESENTATIVE (the min-label member every min-id
    // resolution, index entry, and pack references),
    // and who represents the survivors afterwards. Deleting a
    // non-representative member is metadata-only; a deleted
    // representative invalidates derived artifacts; a fully-deleted
    // cluster (n_survivors = 0, new_rep NULL) must propagate into
    // the indexes rather than re-elect. Tombstones are the
    // deterministic doc_id % 97 batch (~1% of the corpus — delete
    // batches are small next to their corpora, which is exactly why
    // the operator's tombstone join broadcasts). Clusters come from
    // the same LSH pair graph as q65 (== exact Jaccard on the
    // fixture, proven by q36); the oracle recomputes components with
    // the recursive transitive-closure CTE and replays the
    // re-election in SQL.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      val clusters = Dedup.duplicateClusters(docs.select("doc_id"), pairs)
      val tomb = docs.select(col("doc_id"))
        .filter(col("doc_id") % 97 === 0)
      Dedup.deletePropagation(clusters, tomb)
        .orderBy("cluster_id")
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      cl AS (SELECT src AS id, min(dst) AS cluster_id
        FROM reach GROUP BY src),
      j AS (SELECT cl.id, cl.cluster_id,
          CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS del
        FROM cl LEFT JOIN (SELECT doc_id FROM documents
          WHERE doc_id % 97 = 0) t ON t.doc_id = cl.id)
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        CAST(sum(del) AS BIGINT) AS n_deleted,
        CAST(count(*) - sum(del) AS BIGINT) AS n_survivors,
        CAST(max(CASE WHEN id = cluster_id THEN del ELSE 0 END)
          AS BIGINT) AS rep_deleted,
        min(CASE WHEN del = 0 THEN id END) AS new_rep
      FROM j GROUP BY cluster_id HAVING sum(del) >= 1
      ORDER BY cluster_id""")
  )

  private val q274_delete_compaction_probe = Q(
    "q274_delete_compaction_probe",
    // The right-to-be-forgotten loop CLOSED into the indexes (r10
    // verdict #2 — q271 promises "a fully deleted cluster must
    // propagate the delete into indexes rather than re-elect",
    // Dedup.scala deletePropagation scaladoc; this query demonstrates
    // it end to end): tombstones (doc_id % 97, q271's batch) →
    // deletePropagation blast radius → the radius DRIVES the index
    // maintenance — the production MinHash index holds only the
    // RESOLVED corpus (one entry per cluster representative), so
    // deleted representatives leave via compactIndex tombstones while
    // re-elected survivors (new_rep of rep-deleted clusters) enter as
    // a fresh delta; fully-deleted clusters simply vanish (tombstoned,
    // nothing re-inserted) — then the POST-DELETE PROBE: the whole
    // surviving non-representative corpus probes the compacted index
    // (minHashLshIncrementalFromIndex — the q101 ingestion probe), and
    // the emitted pair set is exact-Jaccard-oracle-checked over the
    // independently rebuilt survivor/representative sets. In-job
    // fail-fast gates (limit-1, never corpus-sized collects) assert no
    // tombstoned id survives in the compacted index or appears on
    // either side of a probe pair. The same no-ghost contract runs on
    // the ANN leg: embeddings tombstones (vec_id % 97) → compactIndex →
    // ivfProbe over the q92 sampled queries must return zero
    // tombstoned neighbors (DedupSpec pins both legs on a planted
    // fixture). Scale shape: every step is the operators' own (LSH
    // banding, broadcast tombstone joins, one LWW window keyed by id);
    // the probe is ingestion-incremental (old↔old pairs never
    // regenerate).
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      val clusters = Dedup.duplicateClusters(docs.select("doc_id"), pairs)
        .localCheckpoint(true) // consumed 3x: reps, report, survivors
      val tomb = docs.select(col("doc_id"))
        .filter(col("doc_id") % 97 === 0)
      val report = Dedup.deletePropagation(clusters, tomb)
        .localCheckpoint(true) // touched-cluster-sized; consumed 2x
      // the index BEFORE the delete: the resolved corpus — one entry
      // per cluster representative
      val reps0 = clusters.filter(col("id") === col("cluster_id"))
        .select("id")
      val index0 = Dedup.minHashIndex(
        docs.join(reps0, docs("doc_id") === reps0("id"), "left_semi"),
        "doc_id", "text")
      // report-driven maintenance: re-elected representatives enter
      // as a delta, the delete batch tombstones (deleted reps leave;
      // tombstoned non-reps were never indexed — set-semantics no-op)
      val newReps = report
        .filter(col("rep_deleted") === 1L && col("new_rep").isNotNull)
        .select(col("new_rep").as("doc_id"))
      val delta1 = Dedup.minHashIndex(
        docs.join(newReps, Seq("doc_id"), "left_semi"),
        "doc_id", "text")
      val compacted = Dedup.compactIndex(
        Seq(index0, delta1), Some(tomb), "doc_id")
        .localCheckpoint(true) // consumed by the gate and the probe
      // fail-fast no-ghost gates (limit-1 — never corpus-sized)
      require(compacted.join(tomb, compacted("id") === tomb("doc_id"),
          "left_semi").limit(1).isEmpty,
        "compacted index still holds a tombstoned id")
      // post-delete probe: every surviving NON-representative doc
      // probes the compacted index (ids disjoint from the index by
      // construction — reps are a subset of survivors)
      val survivors = clusters
        .join(tomb, clusters("id") === tomb("doc_id"), "left_anti")
      val postRepIds = compacted.select("id")
      val probeDocs = docs
        .join(survivors.select("id"), docs("doc_id") === survivors("id"),
          "left_semi")
        .join(postRepIds, docs("doc_id") === postRepIds("id"),
          "left_anti")
      // ANN leg: the identical contract through compactIndex +
      // ivfProbe. It shares NOTHING with the doc leg (embeddings vs
      // documents), so its gate overlaps the doc leg's probe + ghost
      // gate
      val (post, _) = Par.overlap {
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val (assign0, cents) = Similarity.ivfIndex(
          e, "vec_id", "embedding", nlist = 16)
        val tombV = e.select(col("vec_id"))
          .filter(col("vec_id") % 97 === 0)
        val compactedV = Dedup.compactIndex(
          Seq(assign0), Some(tombV), "vec_id", Seq("v", "cell"))
        val annPost = Similarity.ivfProbe(
          e.filter(col("vec_id") % 10 === 1), "vec_id", "embedding",
          compactedV, cents, k = 10, nprobe = 4)
        require(annPost.join(tombV,
            annPost("nn_id") === tombV("vec_id"), "left_semi")
            .limit(1).isEmpty,
          "post-delete IVF probe returned a tombstoned vec_id")
      } {
        val post = Dedup.minHashLshIncremental(
          probeDocs, "doc_id", "text", compacted, minJ = 0.5)
          .localCheckpoint(true) // pair-set-sized; gate + emit consume it
        val ghost = post
          .join(tomb, post("id_a") === tomb("doc_id") ||
            post("id_b") === tomb("doc_id"), "left_semi")
        require(ghost.limit(1).isEmpty,
          "post-delete probe returned a tombstoned id")
        post
      }
      post.orderBy("id_a", "id_b")
    },
    Some(s"""WITH RECURSIVE gg AS (SELECT doc_id, ${ngrams3(W)} AS s
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gg a JOIN gg b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      cl AS (SELECT src AS id, min(dst) AS cluster_id
        FROM reach GROUP BY src),
      surv AS (SELECT id, cluster_id FROM cl WHERE id % 97 <> 0),
      reps AS (SELECT min(id) AS id FROM surv GROUP BY cluster_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      FROM gg a JOIN gg b ON a.doc_id < b.doc_id
      WHERE a.doc_id IN (SELECT id FROM surv)
        AND b.doc_id IN (SELECT id FROM surv)
        AND NOT (a.doc_id IN (SELECT id FROM reps)
          AND b.doc_id IN (SELECT id FROM reps))
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
      ORDER BY id_a, id_b""")
  )

  val all: Seq[Q] = Seq(
    q34_dedup_exact,
    q35_dedup_ngram_jaccard,
    q36_dedup_minhash_lsh,
    q253_contrastive_pairs,
    q37_dedup_simhash,
    q66_dedup_incremental,
    q65_dedup_clusters,
    q38_dedup_embedding,
    q56_dedup_embedding_ann,
    q127_resolve_best,
    q145_dedup_attrition,
    q176_containment,
    q178_crosssource_dups,
    q72_cluster_split,
    q76_dedup_minhash_incremental,
    q79_dedup_clusters_incremental,
    q82_duplicated_spans,
    q95_remove_spans,
    q78_source_overlap,
    q186_name_links,
    q203_cdc_chunks,
    q211_sorted_neighborhood,
    q221_dedup_threshold_sweep,
    q270_dedup_sweep_eval,
    q271_delete_propagation,
    q274_delete_compaction_probe)
}
