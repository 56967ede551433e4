package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Par
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.queries.Catalog.{Q, table, events}
import graft.queries.ExtShared._

/** Similarity search and vector-index lifecycle: brute-force / LSH / IVF / int8 / projected ANN, centroids, k-means, cluster quality.
  * Split from the former single Extensions.scala (round 7) for
  * navigability — zero behavior change; [[Extensions.all]] still
  * concatenates every family. */
private[queries] object ExtSimilarity {

  private val q39_sim_bruteforce_topk = Q(
    "q39_sim_bruteforce_topk",
    // Exact top-10 by cosine for 10 query vectors against the corpus:
    // broadcast the query side, scan the corpus once, window-rank.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      s AS (SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      r AS (SELECT query_id, nn_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nn_id) AS BIGINT) AS rank FROM s)
      SELECT query_id, rank, nn_id, cos FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  private val q40_sim_ann_lsh = Q(
    "q40_sim_ann_lsh",
    // Hyperplane-LSH ANN, recall-gated against (and emitting) the
    // exact top-10 — see recallGatedSampled. Random 64-dim vectors are
    // the ANN-hostile worst case (nearest neighbors sit at 60-75°, so
    // per-hyperplane collision odds are barely better than chance);
    // the catalog tunes SHORT sketches × MANY tables (the standard
    // low-similarity regime trade) and floors recall at ~0.8x the
    // measured fixture value. Real embedding manifolds cluster far
    // better and would use longer sketches.
    (s, dir) =>
      recallGatedSampled(s, dir, k = 10,
        // list work pruned to the gate's sampled queries (queryPred —
        // their lists are bitwise unchanged; the rest were discarded)
        ann = m => Similarity.annTopK(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, tables = 16, bits = 6,
          queryPred = Some(c => c % m === 0)),
        floor = 0.35, what = "ann-lsh"),
    Some(sampledExactTopKSql)
  )

  private val q48_sim_ann_ivf = Q(
    "q48_sim_ann_ivf",
    // IVF ANN (bounded-sample k-means, nprobe cells), recall-gated
    // against (and emitting) the exact top-10 — see recallGatedSampled.
    (s, dir) =>
      recallGatedSampled(s, dir, k = 10,
        // probes only the gate's sampled queries (see q40's note)
        ann = m => Similarity.ivfTopK(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4,
          queryPred = Some(c => c % m === 0)),
        floor = 0.30, what = "ann-ivf"),
    Some(sampledExactTopKSql)
  )

  private val q63_sim_ann_int8 = Q(
    "q63_sim_ann_int8",
    // The quantized-shuffle ANN composition: LSH candidates scored on
    // int8 codes (4x lighter candidate join), float re-rank of the
    // shortlist. Recall-gated + exact-emitting like q40/q48; the
    // int8-vs-float agreement itself is spec-pinned at 1.0 on the
    // fixture (SimilaritySpec).
    (s, dir) =>
      recallGatedSampled(s, dir, k = 10,
        // candidate pairs pruned to the gate's sampled queries (see
        // q40's note)
        ann = m => Similarity.annTopKInt8(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, tables = 16, bits = 6,
          queryPred = Some(c => c % m === 0)),
        floor = 0.35, what = "ann-int8"),
    Some(sampledExactTopKSql)
  )

  private val q62_embedding_quantize = Q(
    "q62_embedding_quantize",
    // Int8 embedding quantization (the 4x-shuffle-weight reduction for
    // ANN at scale): per-vector scale + exact integer aggregates over
    // the codes. Every step (max|x|/127, floor(x/scale + 0.5) clamp,
    // integer sums) is IEEE-double/integer math both engines compute
    // identically, so the oracle recomputes the exact codes in SQL.
    (s, dir) => {
      val q = table(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.operators.Quantize.int8(col("embedding")).as("qv"))
      q.select(
        col("vec_id"),
        col("qv.scale").as("scale"),
        aggregate(col("qv.q"), lit(0L),
          (acc, v) => acc + v.cast("long")).as("qsum"),
        aggregate(col("qv.q"), lit(0L),
          (acc, v) => acc + v.cast("long") * v.cast("long")).as("qnorm2"))
        .orderBy("vec_id")
    },
    Some("""WITH s AS (SELECT vec_id, embedding,
        list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings),
      q AS (SELECT vec_id, scale,
        CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
          ELSE list_transform(embedding, x ->
            CAST(greatest(-127.0, least(127.0,
              floor(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT)) END AS qv
        FROM s)
      SELECT vec_id, scale,
        CAST(list_aggregate(qv, 'sum') AS BIGINT) AS qsum,
        CAST(list_aggregate(list_transform(qv, v -> v * v), 'sum') AS BIGINT)
          AS qnorm2
      FROM q ORDER BY vec_id""")
  )

  private val q114_random_projection = Q(
    "q114_random_projection",
    // Achlioptas sparse random projection 64 -> 8 dims: the
    // JL-transform compression axis (fewer dimensions through every
    // downstream shuffle, vs int8's fewer bytes per dimension). The
    // sign matrix derives from md5("graft|i|j") bands, so DuckDB
    // rebuilds the identical matrix and every projected double is
    // bitwise (ascending-i product fold, one final scale multiply).
    // Flat (vec_id, j, y) rows keep the compare scalar.
    (s, dir) =>
      graft.operators.Quantize.randomProject(
        table(s, dir, "embeddings"), "vec_id", "embedding",
        inDim = 64, outDim = 8)
        .select(col("id").as("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          col("col").as("y"))
        .orderBy("vec_id", "j"),
    Some("""WITH dims AS (SELECT unnest(range(8)) AS j),
      p AS (SELECT vec_id, j,
        list_aggregate(list_transform(range(len(embedding)),
          i -> CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) * (CASE
            WHEN substr(md5('graft|' || CAST(i AS VARCHAR) || '|' ||
              CAST(j AS VARCHAR)), 1, 2) < '2b' THEN 1.0
            WHEN substr(md5('graft|' || CAST(i AS VARCHAR) || '|' ||
              CAST(j AS VARCHAR)), 1, 2) < '56' THEN -1.0
            ELSE 0.0 END)), 'sum') * sqrt(3.0 / 8.0) AS y
        FROM embeddings CROSS JOIN dims)
      SELECT vec_id, CAST(j AS BIGINT) AS j, y FROM p
      ORDER BY vec_id, j""")
  )

  private val q115_sim_ann_projected = Q(
    "q115_sim_ann_projected",
    // The JL-composed ANN path: candidates generated and coarse-
    // scored entirely in a 64->32 random-projected space (the cell
    // join moves half the floats per row), exact float rerank on the
    // raw vectors — recall-gated against (and emitting) the sampled
    // exact reference like q40/q48/q63. projDim 32 / nprobe 6 /
    // rerank 10k hold the floor at BOTH sf0.01 and the 4x corpus at
    // sf0.1 (the 10x-scale oracle re-run caught projDim=16 sliding
    // to 0.16 recall at 2000 vectors — JL error ~1/sqrt(projDim)
    // must stay under the corpus's cosine spread).
    (s, dir) =>
      recallGatedSampled(s, dir, k = 10,
        // projects/probes only the gate's sampled queries (q40 note)
        ann = m => Similarity.ivfTopKProjected(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, inDim = 64, projDim = 32, nlist = 16, nprobe = 6,
          rerank = 100, queryPred = Some(c => c % m === 0)),
        floor = 0.25, what = "ann-projected"),
    Some(sampledExactTopKSql)
  )

  private val q86_index_compaction = Q(
    "q86_index_compaction",
    // Index maintenance end-to-end: two overlapping per-batch index
    // deltas (docs 250-299 re-ingested in delta 2 — last-writer-wins)
    // + takedown tombstones (doc_id % 10 == 0), compacted, then pairs
    // recomputed FROM THE COMPACTED INDEX ONLY. The oracle recomputes
    // exact Jaccard pairs over the surviving corpus from scratch —
    // equality proves compaction lost nothing, kept no ghosts, and
    // the compacted index is a drop-in for the probe operators.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val delta1 = Dedup.minHashIndex(
        docs.filter(col("doc_id") < 300), "doc_id", "text")
      val delta2 = Dedup.minHashIndex(
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
      val tombs = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
      val compacted = Dedup.compactIndex(
        Seq(delta1, delta2), Some(tombs), "doc_id")
      Dedup.minHashLshPairsFromIndex(compacted, minJ = 0.5)
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH g AS (SELECT doc_id, ${ngrams3(W)} AS s FROM documents
        WHERE doc_id % 10 <> 0)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
      ORDER BY id_a, id_b""")
  )

  private val q92_ivf_index_probe = Q(
    "q92_ivf_index_probe",
    // The ANN index story end-to-end, cross-corpus: build a persisted
    // IVF index over the EVEN vectors, probe it with the ODD vectors
    // (a new batch — never trained on, never indexed), recall-gate on
    // a deterministic sampled query subset and emit that sample's
    // exact top-k for the bitwise oracle — the q40/q48 contract
    // applied to the parquet-shaped index + probe pair that a
    // continuously-ingesting vector pipeline actually deploys.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 2 === 0)
      val batch = e.filter(col("vec_id") % 2 === 1)
      val sampleQ = batch.filter(col("vec_id") % 10 === 1)
      val exactRows = graft.operators.Similarity.bruteForceTopK(
        corpus, "vec_id", "embedding", sampleQ, "vec_id", "embedding",
        k = 10).orderBy("query_id", "rank")
      // the ANN leg (IVF train → probe → the gate's sampled lists)
      // reads only the corpus and batch the exact reference scans
      val (collected, annSampled) = Par.overlap {
        val (assignments, centroids) = graft.operators.Similarity
          .ivfIndex(corpus, "vec_id", "embedding", nlist = 16)
        graft.operators.Similarity.ivfProbe(
            batch, "vec_id", "embedding", assignments, centroids,
            k = 10, nprobe = 4)
          .filter(col("query_id") % 10 === 1)
          .select("query_id", "nn_id")
          .localCheckpoint()
      } { exactRows.collect() }
      require(collected.length <= 1000000,
        s"sampled exact reference has ${collected.length} rows — " +
          "shrink the sample so the gate fixture stays driver-sized")
      val emitted = s.createDataFrame(
        java.util.Arrays.asList(collected: _*), exactRows.schema)
      val recall = graft.operators.Gates.pairRecall(annSampled, emitted)
      graft.operators.Gates.requireFloor(recall, 0.30,
        "ivf-index-probe sampled pair recall@10 (every 10th odd query)")
      emitted.orderBy("query_id", "rank")
    },
    Some("""WITH c AS (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 2 = 0),
      q AS (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 10 = 1),
      s AS (SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        FROM q JOIN c ON true),
      r AS (SELECT query_id, nn_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nn_id) AS BIGINT) AS rank FROM s)
      SELECT query_id, rank, nn_id, cos FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  private val q104_ivf_compaction = Q(
    "q104_ivf_compaction",
    // The IVF index LIFECYCLE end-to-end — the maintenance story the
    // MinHash-LSH index already has (q86), applied to the ANN side:
    // base index over the even vectors, an APPEND delta of the odd
    // vectors (ivfAssign — assigned to the existing centroids, never
    // retrained), a RE-INGESTION delta re-embedding every 8th vector
    // (negated — LWW must keep the new rows and drop the ghosts),
    // takedown tombstones (every 10th id), compacted with compactIndex,
    // then the compacted index passes the centroid-STALENESS gate
    // (probe recall on a sampled query subset vs the exact sampled
    // reference must hold — the retrain-now alarm) and the exact
    // reference over the SURVIVING corpus is emitted for the bitwise
    // oracle. The oracle rebuilds that corpus independently (negation
    // for re-ingested ids, tombstones dropped) — a kept ghost, a lost
    // row, or a stale embedding would shift the exact top-k and
    // hash-mismatch. SimilaritySpec additionally pins compacted ==
    // fresh-rebuild equality.
    (s, dir) => {
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val (assign0, cents) = graft.operators.Similarity.ivfIndex(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        nlist = 16)
      val delta1 = graft.operators.Similarity.ivfAssign(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", cents)
      // re-embedding: negating floats is exact, so DuckDB rebuilds the
      // same corpus bitwise (the q56 planted-copy trick, applied to
      // the model-upgrade story)
      val reEmbedded = e.filter(col("vec_id") % 8 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => (-x).cast("float"))
            .as("embedding"))
      val delta2 = graft.operators.Similarity.ivfAssign(
        reEmbedded, "vec_id", "embedding", cents)
      val tombs = e.filter(col("vec_id") % 10 === 0).select("vec_id")
      val compacted = Dedup.compactIndex(
        Seq(assign0, delta1, delta2), Some(tombs), "vec_id", Seq("v", "cell"))
      val (_, exact) = graft.operators.Similarity.ivfStalenessGate(
        compacted, cents, k = 10, nprobe = 4, floor = 0.3,
        sampleMod = 10L, sampleResidue = 1L, what = "ivf-compaction")
      collectToLocal(exact, "q104 sampled exact reference")
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id,
        CASE WHEN vec_id % 8 = 0
          THEN list_transform(embedding, x -> CAST(-x AS REAL))
          ELSE embedding END AS embedding
      FROM embeddings WHERE vec_id % 10 <> 0),
      q AS (SELECT vec_id, embedding FROM e WHERE vec_id % 10 = 1),
      s AS (SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        FROM q JOIN e c ON c.vec_id <> q.vec_id),
      r AS (SELECT query_id, nn_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nn_id) AS BIGINT) AS rank FROM s)
      SELECT query_id, rank, nn_id, cos FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  private val q107_ivf_probe_int8 = Q(
    "q107_ivf_probe_int8",
    // The quantized-shuffle composition applied to the PERSISTED-index
    // path (q92 x q63): the probe's cell join moves int8 codes (4x
    // lighter), integer-scores candidates, float-reranks the
    // shortlist. Same fixture split and sampled-exact contract as q92
    // — the oracle is identical (the emitted rows are the exact
    // sampled reference; the int8 path's quality is the in-job gate).
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 2 === 0)
      val batch = e.filter(col("vec_id") % 2 === 1)
      val sampleQ = batch.filter(col("vec_id") % 10 === 1)
      val exactRows = graft.operators.Similarity.bruteForceTopK(
        corpus, "vec_id", "embedding", sampleQ, "vec_id", "embedding",
        k = 10).orderBy("query_id", "rank")
      // as in q92, the int8 probe leg reads only the corpus and batch
      // the exact reference scans
      val (emitted, annSampled) = Par.overlap {
        val (assignments, centroids) = graft.operators.Similarity
          .ivfIndex(corpus, "vec_id", "embedding", nlist = 16)
        graft.operators.Similarity.ivfProbeInt8(
            batch, "vec_id", "embedding", assignments, centroids,
            k = 10, nprobe = 4)
          .filter(col("query_id") % 10 === 1)
          .select("query_id", "nn_id")
          .localCheckpoint()
      } { collectToLocal(exactRows, "sampled exact reference (q107)") }
      val recall = graft.operators.Gates.pairRecall(annSampled, emitted)
      graft.operators.Gates.requireFloor(recall, 0.30,
        "ivf-probe-int8 sampled pair recall@10 (every 10th odd query)")
      emitted.orderBy("query_id", "rank")
    },
    Some("""WITH c AS (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 2 = 0),
      q AS (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 10 = 1),
      s AS (SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        FROM q JOIN c ON true),
      r AS (SELECT query_id, nn_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nn_id) AS BIGINT) AS rank FROM s)
      SELECT query_id, rank, nn_id, cos FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  private val q90_label_centroids = Q(
    "q90_label_centroids",
    // Per-class prototype embeddings: mean vector per label, folded IN
    // VEC_ID ORDER so the double accumulation is bitwise (a plain
    // distributed sum of doubles is order-nondeterministic and could
    // never hash-match). The oracle runs the identical sequential fold
    // (list ORDER BY vec_id -> list_aggregate 'sum', the q39
    // contract) per dimension. One row per (label, dim) keeps every
    // emitted value scalar.
    (s, dir) =>
      graft.operators.Similarity.groupCentroids(
        table(s, dir, "embeddings"), "label", "vec_id", "embedding")
        .withColumnRenamed("group", "label")
        .orderBy("label", "dim"),
    Some("""WITH g AS (SELECT label, count(*) AS n,
        list(embedding ORDER BY vec_id) AS vs
      FROM embeddings GROUP BY label)
      SELECT label, CAST(n AS BIGINT) AS n, CAST(u.i AS BIGINT) AS dim,
        list_aggregate(list_transform(vs,
          v -> CAST(v[u.i] AS DOUBLE)), 'sum') / n AS c
      FROM g CROSS JOIN unnest(range(1, len(vs[1]) + 1)) AS u(i)
      ORDER BY label, dim""")
  )

  private val q91_centroid_outliers = Q(
    "q91_centroid_outliers",
    // Mislabeled/junk-vector screen: each embedding's cosine to ITS
    // OWN label's centroid, 20 lowest emitted (one narrow TakeOrdered,
    // never a global sort). The centroid is cast to float (correctly
    // rounded, engine-identical) so the scoring is the bitwise
    // graft_cosine kernel; the oracle rebuilds centroid, cast, and
    // cosine with the same sequential folds.
    (s, dir) =>
      graft.operators.Similarity.centroidOutliers(
        table(s, dir, "embeddings"), "label", "vec_id", "embedding", k = 20)
        .withColumnRenamed("group", "label"),
    Some("""WITH g AS (SELECT label, count(*) AS n,
        list(embedding ORDER BY vec_id) AS vs
      FROM embeddings GROUP BY label),
      cent AS (SELECT label, list_transform(range(1, len(vs[1]) + 1),
        i -> CAST(list_aggregate(list_transform(vs,
          v -> CAST(v[i] AS DOUBLE)), 'sum') / n AS REAL)) AS cf
      FROM g),
      s AS (SELECT e.vec_id AS id, e.label,
        list_aggregate(list_transform(list_zip(e.embedding, cent.cf),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(e.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(cent.cf,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
      FROM embeddings e JOIN cent ON e.label = cent.label)
      SELECT id, label, cos FROM s ORDER BY cos ASC, id LIMIT 20""")
  )

  private val q97_centroids_twophase = Q(
    "q97_centroids_twophase",
    // The at-scale centroid fold, continuously verified: run the
    // two-phase partial-sum spelling (vectors never collected into
    // one task; partials combined in partition-id order with an
    // in-job reordering-error gate), assert inside the job that every
    // dimension agrees with the bitwise single-task fold WITHIN the
    // emitted bound, and emit the exact rows for the bitwise oracle —
    // the q40/q77 gate pattern applied to floating-point reordering,
    // so the scale path has no rows-only gap.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      // exact is read twice (gate join + emit): truncate once so the
      // group collect and its guard job run once, not per consumer
      val exact = graft.operators.Similarity.groupCentroids(
        e, "label", "vec_id", "embedding")
        .localCheckpoint(true)
      val two = graft.operators.Similarity.groupCentroidsTwoPhase(
        e, "label", "vec_id", "embedding")
      val disagree = exact.as("x")
        .join(two.as("t"), Seq("group", "dim"))
        .filter(abs(col("x.c") - col("t.c")) > col("t.err_bound"))
        .count()
      require(disagree == 0L,
        s"two-phase centroid fold diverged beyond its error bound on " +
          s"$disagree (group, dim) cells — the reordering-error gate " +
          "is broken, not just loose")
      exact.withColumnRenamed("group", "label").orderBy("label", "dim")
    },
    // the emitted rows are the exact fold — same oracle as q90
    Some("""WITH g AS (SELECT label, count(*) AS n,
        list(embedding ORDER BY vec_id) AS vs
      FROM embeddings GROUP BY label)
      SELECT label, CAST(n AS BIGINT) AS n, CAST(u.i AS BIGINT) AS dim,
        list_aggregate(list_transform(vs,
          v -> CAST(v[u.i] AS DOUBLE)), 'sum') / n AS c
      FROM g CROSS JOIN unnest(range(1, len(vs[1]) + 1)) AS u(i)
      ORDER BY label, dim""")
  )

  private val q204_cluster_quality = Q(
    "q204_cluster_quality",
    // Davies-Bouldin cluster quality over the label prototypes: per
    // label, scatter (vec-id-ordered mean distance to own centroid)
    // and the worst (S_i+S_j)/M_ij separation ratio — the
    // no-pairwise-points diagnostic to run after every centroid
    // (re)train. Every fold is dim- or id-ordered, so DuckDB
    // rebuilds centroids, scatters, and components bitwise.
    (s, dir) =>
      graft.operators.Similarity.daviesBouldin(
        table(s, dir, "embeddings"), "label", "vec_id", "embedding")
        .withColumnRenamed("group", "label")
        .orderBy("label"),
    Some("""WITH g AS (SELECT label, count(*) AS n,
        list(embedding ORDER BY vec_id) AS vs
        FROM embeddings GROUP BY label),
      cent AS (SELECT label, n, list_transform(
          range(1, len(vs[1]) + 1),
          i -> list_aggregate(list_transform(vs,
            v -> CAST(v[i] AS DOUBLE)), 'sum') / n) AS cv FROM g),
      d AS (SELECT e.label, e.vec_id,
          sqrt(list_aggregate(list_transform(
            list_zip(e.embedding, c.cv),
            x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
            'sum')) AS d
        FROM embeddings e JOIN cent c ON c.label = e.label),
      s AS (SELECT label,
          list_aggregate(list(d ORDER BY vec_id), 'sum') / count(*)
            AS scatter
        FROM d GROUP BY label),
      m AS (SELECT a.label AS la, b.label AS lb,
          sqrt(list_aggregate(list_transform(list_zip(a.cv, b.cv),
            x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
            'sum')) AS m
        FROM cent a JOIN cent b ON a.label <> b.label),
      r AS (SELECT m.la AS label,
          max((sa.scatter + sb.scatter) / m.m) AS db_component
        FROM m JOIN s sa ON sa.label = m.la
        JOIN s sb ON sb.label = m.lb WHERE m.m > 0 GROUP BY 1)
      SELECT c.label, CAST(c.n AS BIGINT) AS n, s.scatter,
        r.db_component
      FROM cent c JOIN s USING (label) JOIN r USING (label)
      ORDER BY c.label""")
  )

  private val q259_bitext_margin = Q(
    "q259_bitext_margin",
    // Margin-criterion alignment mining (the CCMatrix/LASER bitext
    // recipe): split the corpus into two sides, exact top-4 cosine
    // k-NN in BOTH directions, then keep each left vector's
    // best-margin partner where margin = cos / (mean of the two
    // endpoints' neighborhood cosines) >= 1.05 — the hubness
    // correction raw cosine thresholds lack. The k-NN supplier here
    // is the exact bruteForceTopK (oracle-replayable); at corpus
    // scale the same marginScore consumes ivfTopK/annTopK lists.
    // Neighborhood means fold the 4 cosines in rank order, so every
    // double is bitwise-reproducible in SQL.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      // the EXACT dual k-NN supplier below is n²/4 cosines — the
      // oracle-replayable fixture spelling, enforced bounded (the
      // exactSelfTopK contract): past the bound, swap in ivfTopK /
      // annTopK per side; marginScore is supplier-agnostic
      val corpusN = corpusCount(e, dir)
      require(corpusN <= 32768L,
        s"q259's exact dual-kNN supplier scores corpusN²/4 pairs: " +
          s"$corpusN rows > 32768. Feed marginScore ivfTopK/annTopK " +
          "lists at this scale (the operator is supplier-agnostic).")
      val a = e.filter(col("vec_id") % 2 === 0)
      val b = e.filter(col("vec_id") % 2 === 1)
      // marginScore consumes fwd TWICE (neighborhood mean + the
      // scored candidates), so the exact k-NN subtree executes twice
      // (plan-audited). MEASURED: localCheckpoint'ing fwd to dedupe
      // the work ran 1.5x SLOWER at sf0.1 (3.5 s vs 2.3 s — eager
      // materialization costs more than re-running the cheap
      // broadcast scan); recompute wins, so no truncation here.
      // The two directions' checkpoints share only the scan.
      val (fwd, bwd) = Par.overlap {
        Similarity.bruteForceTopK(
          a, "vec_id", "embedding", b, "vec_id", "embedding", k = 4)
          .localCheckpoint(true)
      } {
        Similarity.bruteForceTopK(
          b, "vec_id", "embedding", a, "vec_id", "embedding", k = 4)
          .localCheckpoint(true)
      }
      graft.operators.Align.marginScore(fwd, bwd, k = 4,
        minMargin = 1.05).orderBy("src_id")
    },
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      a AS (SELECT * FROM e WHERE vec_id % 2 = 0),
      b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
      c AS (SELECT x.vec_id AS xid, y.vec_id AS yid,
        list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(x.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(y.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))) AS cos
        FROM a x JOIN b y ON true),
      fwd AS (SELECT xid, yid, cos, row_number() OVER (
          PARTITION BY xid ORDER BY cos DESC, yid) AS r FROM c),
      bwd AS (SELECT xid, yid, cos, row_number() OVER (
          PARTITION BY yid ORDER BY cos DESC, xid) AS r FROM c),
      mf AS (SELECT xid,
          list_aggregate(list(cos ORDER BY r), 'sum') / count(*) AS m
        FROM fwd WHERE r <= 4 GROUP BY xid),
      mb AS (SELECT yid,
          list_aggregate(list(cos ORDER BY r), 'sum') / count(*) AS m
        FROM bwd WHERE r <= 4 GROUP BY yid),
      sc AS (SELECT f.xid, f.yid, f.cos,
          f.cos / ((mf.m + mb.m) / 2) AS margin
        FROM fwd f JOIN mf USING (xid) JOIN mb USING (yid)
        WHERE f.r <= 4),
      t AS (SELECT xid, yid, cos, margin, row_number() OVER (
          PARTITION BY xid ORDER BY margin DESC, yid) AS mr FROM sc)
      SELECT xid AS src_id, yid AS dst_id, cos, margin
      FROM t WHERE mr = 1 AND margin >= 1.05 ORDER BY src_id""")
  )

  private val q260_silhouette = Q(
    "q260_silhouette",
    // Centroid-silhouette membership quality per label — the
    // complement to q204's Davies-Bouldin separation: per vector
    // s = (b - a)/max(a, b) against own vs nearest-other centroid,
    // averaged per cluster. Linear in the corpus (the pairwise
    // silhouette is O(n^2) and un-runnable at scale); every fold is
    // dim- or id-ordered so DuckDB rebuilds each double bitwise.
    (s, dir) =>
      graft.operators.Similarity.centroidSilhouette(
        table(s, dir, "embeddings"), "label", "vec_id", "embedding")
        .withColumnRenamed("group", "label")
        .orderBy("label"),
    Some("""WITH g AS (SELECT label, count(*) AS n,
        list(embedding ORDER BY vec_id) AS vs
        FROM embeddings GROUP BY label),
      cent AS (SELECT label, n, list_transform(
          range(1, len(vs[1]) + 1),
          i -> list_aggregate(list_transform(vs,
            v -> CAST(v[i] AS DOUBLE)), 'sum') / n) AS cv FROM g),
      d AS (SELECT e.vec_id, e.label AS vl, c.label AS cl,
          sqrt(list_aggregate(list_transform(
            list_zip(e.embedding, c.cv),
            x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
            'sum')) AS d
        FROM embeddings e CROSS JOIN cent c),
      pv AS (SELECT vec_id, vl AS label,
          max(CASE WHEN cl = vl THEN d END) AS a,
          min(CASE WHEN cl <> vl THEN d END) AS b
        FROM d GROUP BY vec_id, vl),
      si AS (SELECT vec_id, label,
          CASE WHEN greatest(a, b) = 0 THEN 0.0
            ELSE (b - a) / greatest(a, b) END AS s
        FROM pv)
      SELECT label, CAST(count(*) AS BIGINT) AS n,
        round(list_aggregate(list(s ORDER BY vec_id), 'sum')
          / count(*), 6) AS silhouette
      FROM si GROUP BY label ORDER BY label""")
  )

  private val q263_retrieval_eval = Q(
    "q263_retrieval_eval",
    // Label-relevance eval of the embedding space: exact top-10 for
    // every 10th vector (the q40/q48 sampled-gate population), P@10 /
    // MRR / nDCG@10 with relevant = same label. nDCG's ideal is the
    // true ideal (label population − self, capped at k); DCG and
    // IDCG fold ln-terms in rank order (the q94 discipline). The
    // operator takes the k-NN list, so the same scorer prices an ANN
    // index's recall loss in ranking terms.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      // the shared sampled-population discipline: the eval query set
      // stays ~5000 rows at ANY corpus size, fail-fast past the
      // static %10 oracle's reach (ONE derivation — ExtShared)
      val effMod = derivedSampleMod(e, dir, 10L, "q263 eval-population")
      val knn = Similarity.bruteForceTopK(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") % effMod === 0), "vec_id", "embedding",
        k = 10)
      graft.operators.Retrieval.labelEval(
        knn, e, "vec_id", "label", k = 10)
        .orderBy("query_id")
    },
    Some("""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      co AS (SELECT q.vec_id AS query_id, q.label AS qlab,
        c.vec_id AS nn_id, c.label AS clab,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))) AS cos
        FROM e q JOIN e c ON q.vec_id % 10 = 0 AND c.vec_id <> q.vec_id),
      r AS (SELECT query_id, qlab, nn_id, clab, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
        FROM co),
      t AS (SELECT query_id, qlab, rank,
          CASE WHEN clab = qlab THEN 1 ELSE 0 END AS rel
        FROM r WHERE rank <= 10),
      lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM e
        GROUP BY 1),
      p AS (SELECT t.query_id, least(lc.c - 1, 10) AS n_rel,
          CAST(sum(t.rel) AS BIGINT) AS nhit,
          min(CASE WHEN t.rel = 1 THEN t.rank END) AS first,
          list_aggregate(list(CASE WHEN t.rel = 1
            THEN 1.0 / (ln(t.rank + 1.0) / ln(2.0)) ELSE 0.0 END
            ORDER BY t.rank), 'sum') AS dcg
        FROM t JOIN lc ON lc.label = t.qlab
        GROUP BY t.query_id, lc.c)
      SELECT query_id, n_rel,
        round(nhit / 10.0, 6) AS p_at_k,
        round(CASE WHEN first IS NULL THEN 0.0
          ELSE 1.0 / first END, 6) AS mrr,
        round(dcg / CASE WHEN n_rel >= 1 THEN
          list_aggregate(list_transform(range(1, n_rel + 1),
            r -> 1.0 / (ln(CAST(r AS DOUBLE) + 1.0) / ln(2.0))),
            'sum') END, 6) AS ndcg
      FROM p ORDER BY query_id""")
  )

  private val q262_mmr_diversify = Q(
    "q262_mmr_diversify",
    // Diversified retrieval: MMR-greedy top-4 from each query's exact
    // top-8 shortlist (0.7·relevance − 0.3·max-sim-to-picked) — the
    // rerank that stops an ANN shortlist from spending m slots on one
    // near-dup cluster. The greedy loop is unrolled (m=4 stages) in
    // BOTH engines, the q232 discipline; candidate and pairwise
    // cosines are the bitwise q39 folds, MAX is order-free, ties
    // break by nn_id, faces at 6 decimals.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val cand = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", q, "vec_id", "embedding", k = 8)
      val ids = cand.select(col("query_id"), col("nn_id"))
      val withVec = e.select(col("vec_id"), col("embedding"))
        .join(broadcast(ids), col("vec_id") === col("nn_id"))
        .select(col("query_id"), col("nn_id"), col("embedding"))
      val a = withVec.select(col("query_id"), col("nn_id").as("id_a"),
        col("embedding").as("_va"))
      val b = withVec.select(col("query_id").as("_q2"),
        col("nn_id").as("id_b"), col("embedding").as("_vb"))
      val pairs = a.join(b,
        col("query_id") === col("_q2") && col("id_a") =!= col("id_b"))
        .select(col("query_id"), col("id_a"), col("id_b"),
          Similarity.cosineKernel(col("_va"), col("_vb")).as("sim"))
      graft.operators.Retrieval.mmrDiversify(cand, pairs, m = 4)
        .orderBy("query_id", "step")
    },
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      co AS (SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      c8 AS (SELECT query_id, nn_id, cos, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, nn_id) AS r
        FROM co),
      cand AS (SELECT * FROM c8 WHERE r <= 8),
      p AS (SELECT a.query_id, a.nn_id AS id_a, b.nn_id AS id_b,
        list_aggregate(list_transform(list_zip(ea.embedding, eb.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(ea.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(eb.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))) AS sim
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.nn_id <> b.nn_id
        JOIN e ea ON ea.vec_id = a.nn_id
        JOIN e eb ON eb.vec_id = b.nn_id),
      s1 AS (SELECT query_id, CAST(1 AS BIGINT) AS step, nn_id,
          round(cos, 6) AS mmr_score FROM cand WHERE r = 1),
      sel1 AS (SELECT query_id, nn_id FROM s1),
      pen2 AS (SELECT p.query_id, p.id_a, max(p.sim) AS pen FROM p
        JOIN sel1 s ON s.query_id = p.query_id AND s.nn_id = p.id_b
        GROUP BY 1, 2),
      sc2 AS (SELECT c.query_id, c.nn_id,
          0.7 * c.cos - 0.3 * pen2.pen AS sc
        FROM cand c JOIN pen2
          ON pen2.query_id = c.query_id AND pen2.id_a = c.nn_id
        WHERE NOT EXISTS (SELECT 1 FROM sel1 s
          WHERE s.query_id = c.query_id AND s.nn_id = c.nn_id)),
      s2 AS (SELECT query_id, CAST(2 AS BIGINT) AS step, nn_id,
          round(sc, 6) AS mmr_score FROM
        (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY sc DESC, nn_id) AS rr FROM sc2) WHERE rr = 1),
      sel2 AS (SELECT query_id, nn_id FROM s1
        UNION ALL SELECT query_id, nn_id FROM s2),
      pen3 AS (SELECT p.query_id, p.id_a, max(p.sim) AS pen FROM p
        JOIN sel2 s ON s.query_id = p.query_id AND s.nn_id = p.id_b
        GROUP BY 1, 2),
      sc3 AS (SELECT c.query_id, c.nn_id,
          0.7 * c.cos - 0.3 * pen3.pen AS sc
        FROM cand c JOIN pen3
          ON pen3.query_id = c.query_id AND pen3.id_a = c.nn_id
        WHERE NOT EXISTS (SELECT 1 FROM sel2 s
          WHERE s.query_id = c.query_id AND s.nn_id = c.nn_id)),
      s3 AS (SELECT query_id, CAST(3 AS BIGINT) AS step, nn_id,
          round(sc, 6) AS mmr_score FROM
        (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY sc DESC, nn_id) AS rr FROM sc3) WHERE rr = 1),
      sel3 AS (SELECT query_id, nn_id FROM sel2
        UNION ALL SELECT query_id, nn_id FROM s3),
      pen4 AS (SELECT p.query_id, p.id_a, max(p.sim) AS pen FROM p
        JOIN sel3 s ON s.query_id = p.query_id AND s.nn_id = p.id_b
        GROUP BY 1, 2),
      sc4 AS (SELECT c.query_id, c.nn_id,
          0.7 * c.cos - 0.3 * pen4.pen AS sc
        FROM cand c JOIN pen4
          ON pen4.query_id = c.query_id AND pen4.id_a = c.nn_id
        WHERE NOT EXISTS (SELECT 1 FROM sel3 s
          WHERE s.query_id = c.query_id AND s.nn_id = c.nn_id)),
      s4 AS (SELECT query_id, CAST(4 AS BIGINT) AS step, nn_id,
          round(sc, 6) AS mmr_score FROM
        (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY sc DESC, nn_id) AS rr FROM sc4) WHERE rr = 1)
      SELECT * FROM s1 UNION ALL SELECT * FROM s2
      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      ORDER BY query_id, step""")
  )

  /** The q212 two-pass Lloyd replay over a CTE `e(vec_id,
    * embedding)` — seeds = the 8 ids < 8, (d, cluster) argmin
    * tie-break, id-ordered recentering; yields a2(vec_id, cluster).
    * Shared verbatim by the q242 SemDeDup oracle. */
  private val kmeans2PassCtes: String =
    """c0 AS (SELECT vec_id AS cluster, list_transform(embedding,
          x -> CAST(x AS DOUBLE)) AS cv FROM e WHERE vec_id < 8),
      d1 AS (SELECT e.vec_id, c0.cluster,
          list_aggregate(list_transform(list_zip(e.embedding, c0.cv),
            x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
            'sum') AS d
        FROM e CROSS JOIN c0),
      a1 AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
          row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster)
            AS rn FROM d1) WHERE rn = 1),
      g1 AS (SELECT a1.cluster, count(*) AS n,
          list(e.embedding ORDER BY e.vec_id) AS vs
        FROM a1 JOIN e ON e.vec_id = a1.vec_id GROUP BY 1),
      c1 AS (SELECT cluster, list_transform(
          range(1, len(vs[1]) + 1),
          i -> list_aggregate(list_transform(vs,
            v -> CAST(v[i] AS DOUBLE)), 'sum') / n) AS cv FROM g1),
      d2 AS (SELECT e.vec_id, c1.cluster,
          list_aggregate(list_transform(list_zip(e.embedding, c1.cv),
            x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
            'sum') AS d
        FROM e CROSS JOIN c1),
      a2 AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
          row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster)
            AS rn FROM d2) WHERE rn = 1)"""

  private val q212_kmeans = Q(
    "q212_kmeans",
    // Distributed Lloyd k-means over the WHOLE embedding corpus
    // (k=8, 2 assignment passes): deterministic seeds (8 smallest
    // ids), argmin squared distance with (d, cluster) tiebreak,
    // id-ordered bitwise recentering — the oracle replays BOTH
    // iterations (assignment -> fold -> assignment) and must land
    // on the identical clustering.
    (s, dir) =>
      graft.operators.Similarity.kmeansLloyd(
        table(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
        .orderBy("id"),
    Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      $kmeans2PassCtes,
      sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_n
        FROM a2 GROUP BY 1)
      SELECT a2.vec_id AS id, a2.cluster, sz.cluster_n
      FROM a2 JOIN sz USING (cluster) ORDER BY id""")
  )

  private val q236_centroid_drift = Q(
    "q236_centroid_drift",
    // Embedding drift per label between two snapshot halves
    // (vec_id parity): cosine + L2 between the halves' centroids,
    // both built by the q90 vec-id-ordered bitwise fold; all
    // dot/norm folds run in dim order, faces at 6 decimals. The
    // encoder-rollout monitor in embedding space.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.operators.Similarity.centroidDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 =!= 0),
        "label", "vec_id", "embedding")
        .withColumnRenamed("group", "label")
        .orderBy("label")
    },
    Some("""WITH r AS (SELECT label, vec_id, embedding
        FROM embeddings WHERE vec_id % 2 = 0),
      c AS (SELECT label, vec_id, embedding
        FROM embeddings WHERE vec_id % 2 <> 0),
      gr AS (SELECT label, CAST(count(*) AS BIGINT) AS n_ref,
          list(embedding ORDER BY vec_id) AS vs FROM r GROUP BY 1),
      centr AS (SELECT label, n_ref,
          list_transform(range(1, len(vs[1]) + 1),
            i -> list_aggregate(list_transform(vs,
              v -> CAST(v[i] AS DOUBLE)), 'sum') / n_ref) AS va
        FROM gr),
      gc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_cur,
          list(embedding ORDER BY vec_id) AS vs FROM c GROUP BY 1),
      centc AS (SELECT label, n_cur,
          list_transform(range(1, len(vs[1]) + 1),
            i -> list_aggregate(list_transform(vs,
              v -> CAST(v[i] AS DOUBLE)), 'sum') / n_cur) AS vb
        FROM gc),
      j AS (SELECT a.label, a.n_ref, b.n_cur, a.va, b.vb
        FROM centr a JOIN centc b USING (label))
      SELECT label, n_ref, n_cur,
        round(list_aggregate(list_transform(
            range(1, len(va) + 1), i -> va[i] * vb[i]), 'sum')
          / (sqrt(list_aggregate(list_transform(
              range(1, len(va) + 1), i -> va[i] * va[i]), 'sum'))
            * sqrt(list_aggregate(list_transform(
              range(1, len(vb) + 1), i -> vb[i] * vb[i]), 'sum'))),
          6) AS cosine,
        round(sqrt(list_aggregate(list_transform(
            range(1, len(va) + 1),
            i -> (va[i] - vb[i]) * (va[i] - vb[i])), 'sum')), 6)
          AS l2_dist
      FROM j ORDER BY label""")
  )

  private val q242_semantic_dedup = Q(
    "q242_semantic_dedup",
    // SemDeDup (Abbas et al. 2023): k-means cells bound the exact
    // cosine stage — within-cluster pairs only, the published
    // recall trade. The fixture plants an identical copy of each
    // vec_id<50 vector (L2 distance 0 => provably same cell, so
    // the planted pairs are structurally recall-1); the oracle
    // replays the exact two-pass Lloyd (q212's shared CTEs) over
    // the same augmented corpus and the bitwise cosine fold.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val aug = e.unionAll(
        e.filter(col("vec_id") < 50)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
      graft.operators.Similarity.semanticDedupPairs(
        aug, "vec_id", "embedding", k = 8, iters = 2, minCos = 0.9)
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
      e AS (SELECT vec_id, embedding FROM base
        UNION ALL SELECT vec_id + 1000000, embedding FROM base
          WHERE vec_id < 50),
      $kmeans2PassCtes,
      wv AS (SELECT a2.vec_id, a2.cluster, e.embedding
        FROM a2 JOIN e ON e.vec_id = a2.vec_id),
      p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
          list_aggregate(list_transform(
            list_zip(a.embedding, b.embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
            'sum') AS d,
          sqrt(list_aggregate(list_transform(a.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
            AS na,
          sqrt(list_aggregate(list_transform(b.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
            AS nb
        FROM wv a JOIN wv b ON a.cluster = b.cluster
          AND a.vec_id < b.vec_id)
      SELECT cluster, id_a, id_b, d / (na * nb) AS cos FROM p
      WHERE d / (na * nb) >= 0.9 ORDER BY id_a, id_b""")
  )

  private val q249_dim_drift = Q(
    "q249_dim_drift",
    // The dimension-level diagnostic under q236's aggregate cosine:
    // per (label, dim) means/variances of both snapshot halves via
    // id-ordered bitwise folds, and the standardized mean shift
    // (Cohen's-d shaped). When the rollout monitor fires, this
    // table says WHICH dimension moved.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.operators.Similarity.dimDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 =!= 0),
        "label", "vec_id", "embedding")
        .withColumnRenamed("group", "label")
        .orderBy("label", "dim")
    },
    Some("""WITH r AS (SELECT label, vec_id, embedding
        FROM embeddings WHERE vec_id % 2 = 0),
      c AS (SELECT label, vec_id, embedding
        FROM embeddings WHERE vec_id % 2 <> 0),
      xr AS (SELECT label, vec_id, CAST(u.d AS BIGINT) AS dim,
          CAST(embedding[u.d] AS DOUBLE) AS x
        FROM r CROSS JOIN unnest(range(1, len(embedding) + 1))
          AS u(d)),
      xc AS (SELECT label, vec_id, CAST(u.d AS BIGINT) AS dim,
          CAST(embedding[u.d] AS DOUBLE) AS x
        FROM c CROSS JOIN unnest(range(1, len(embedding) + 1))
          AS u(d)),
      ar AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n_ref,
          list_aggregate(list(x ORDER BY vec_id), 'sum') AS sx,
          list_aggregate(list(x * x ORDER BY vec_id), 'sum') AS sxx
        FROM xr GROUP BY 1, 2),
      ac AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n_cur,
          list_aggregate(list(x ORDER BY vec_id), 'sum') AS sx,
          list_aggregate(list(x * x ORDER BY vec_id), 'sum') AS sxx
        FROM xc GROUP BY 1, 2),
      j AS (SELECT ar.label, ar.dim, ar.n_ref, ac.n_cur,
          ar.sx / ar.n_ref AS mr, ac.sx / ac.n_cur AS mc,
          ar.sxx / ar.n_ref - (ar.sx / ar.n_ref) * (ar.sx / ar.n_ref)
            AS vr,
          ac.sxx / ac.n_cur - (ac.sx / ac.n_cur) * (ac.sx / ac.n_cur)
            AS vc
        FROM ar JOIN ac ON ac.label = ar.label AND ac.dim = ar.dim)
      SELECT label, dim, n_ref, n_cur,
        round(mr, 6) AS mean_ref, round(mc, 6) AS mean_cur,
        round(vr, 6) AS var_ref, round(vc, 6) AS var_cur,
        CASE WHEN sqrt((vr + vc) / 2.0) > 0.0 THEN
          round(abs(mr - mc) / sqrt((vr + vc) / 2.0), 6) END
          AS effect
      FROM j ORDER BY label, dim""")
  )

  private val q256_principal_component = Q(
    "q256_principal_component",
    // Top covariance eigenvector of the embedding corpus by
    // FIXED-COUNT power iteration (12 passes from the all-ones
    // start) — the whitening/drift direction, with its explained-
    // variance share. Engine-agnostic by construction: components
    // quantize by floor(x*2^20) (float*2^k is IEEE-exact — no
    // float->decimal rounding seam), moments are exact integer sums,
    // and the d x d iteration is ordered double folds that the
    // oracle replays verbatim (recursive CTE + list_aggregate).
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.principalComponent(e, "embedding")
        .orderBy("dim")
    },
    Some("""WITH RECURSIVE qq AS (
        SELECT list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
          AS q
        FROM embeddings WHERE embedding IS NOT NULL),
      terms AS (
        SELECT u.t.i AS i, u.t.j AS j, u.t.m AS m
        FROM qq, UNNEST(list_concat(list_concat(
          flatten(list_transform(range(0, len(q)), i ->
            list_transform(range(i, len(q)), j ->
              {'i': CAST(i AS INT), 'j': CAST(j AS INT),
                'm': CAST(q[CAST(i AS INT) + 1] AS HUGEINT)
                  * q[CAST(j AS INT) + 1]}))),
          list_transform(range(0, len(q)), i ->
            {'i': CAST(i AS INT), 'j': -1,
              'm': CAST(q[CAST(i AS INT) + 1] AS HUGEINT)})),
          [{'i': -2, 'j': -2, 'm': CAST(1 AS HUGEINT)}])) AS u(t)),
      mom AS (SELECT i, j, sum(m) AS s FROM terms GROUP BY 1, 2),
      nn AS (SELECT s AS n FROM mom WHERE i = -2),
      m1 AS (SELECT i, s FROM mom WHERE j = -1),
      cells AS (
        SELECT a.i, a.j, CAST(nn.n * a.s - b1.s * b2.s AS DOUBLE) AS c
        FROM mom a, nn, m1 b1, m1 b2
        WHERE a.j >= 0 AND b1.i = a.i AND b2.i = a.j),
      sym AS (SELECT i, j, c FROM cells
        UNION ALL SELECT j, i, c FROM cells WHERE i <> j),
      crows AS (SELECT i, list(c ORDER BY j) AS r FROM sym GROUP BY i),
      cmat AS (SELECT list(r ORDER BY i) AS c,
        CAST(count(*) AS INT) AS d FROM crows),
      tr AS (SELECT list_aggregate(list_transform(range(1, d + 1),
          i -> c[CAST(i AS INT)][CAST(i AS INT)]), 'sum') AS trace
        FROM cmat),
      it(k, v) AS (
        SELECT 0, (SELECT list_transform(range(0, d),
            x -> CAST(1 AS DOUBLE)) FROM cmat)
        UNION ALL
        SELECT it.k + 1,
          list_transform(
            list_transform(range(1, cmat.d + 1), i ->
              list_aggregate(list_transform(range(1, cmat.d + 1),
                j -> cmat.c[CAST(i AS INT)][CAST(j AS INT)]
                  * it.v[CAST(j AS INT)]), 'sum')),
            x -> x / sqrt(list_aggregate(list_transform(
              list_transform(range(1, cmat.d + 1), i ->
                list_aggregate(list_transform(range(1, cmat.d + 1),
                  j -> cmat.c[CAST(i AS INT)][CAST(j AS INT)]
                    * it.v[CAST(j AS INT)]), 'sum')),
              y -> y * y), 'sum')))
        FROM it, cmat WHERE it.k < 12),
      fin AS (SELECT v FROM it WHERE k = 12),
      ray AS (
        SELECT fin.v AS v,
          list_transform(range(1, cmat.d + 1), i ->
            list_aggregate(list_transform(range(1, cmat.d + 1),
              j -> cmat.c[CAST(i AS INT)][CAST(j AS INT)]
                * fin.v[CAST(j AS INT)]), 'sum')) AS w
        FROM fin, cmat),
      lam AS (
        SELECT v,
          list_aggregate(list_transform(range(1, len(v) + 1),
            i -> v[CAST(i AS INT)] * w[CAST(i AS INT)]), 'sum')
          / list_aggregate(list_transform(range(1, len(v) + 1),
            i -> v[CAST(i AS INT)] * v[CAST(i AS INT)]), 'sum')
          AS lambda
        FROM ray)
      SELECT CAST(u.d AS BIGINT) AS dim,
        round(v[CAST(u.d AS INT)], 6) AS component,
        round(lambda / tr.trace, 6) AS ev_share
      FROM lam, tr, UNNEST(range(1, len(v) + 1)) AS u(d)
      ORDER BY dim""")
  )

  private val q267_crosslingual_dedup = Q(
    "q267_crosslingual_dedup",
    // Cross-lingual dedup — the SCALING.md note on q259 made
    // executable: the corpus splits into two embedded "languages"
    // (even/odd vec_id), and a pair is a cross-lingual DUPLICATE only
    // when it is the MUTUAL best-margin partner in both mining
    // directions with margin >= 1.05 (the forward∩backward
    // intersection filter from the bitext literature — one-direction
    // best-margin keeps hubs' one-sided matches; mutuality kills
    // them). The margin value is direction-symmetric bitwise (same
    // cos, IEEE + commutes in the mean), so one margin column is
    // emitted. The oracle face consumes the EXACT dual k-NN lists;
    // the AT-SCALE candidate path runs IN-JOB too: an IVF self-search
    // (k=8) filtered to cross-parity pairs is recall-gated against
    // the sampled exact lists — the recallGatedSampled discipline, so
    // swapping the exact supplier for the gated ANN lists at 100 TB
    // is a measured step, not a hope. Exact k-NN frames are
    // localCheckpoint'ed: the two marginScore calls + the gate
    // consume each side 3x (vs q259's 2x, where recompute measured
    // faster — the break-even flips at 3 consumptions: lc 5.87 s vs
    // recompute 7.03 s median at sf0.1, Probe queries 3, r9).
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      val corpusN = corpusCount(e, dir)
      require(corpusN <= 32768L,
        s"q267's exact dual-kNN supplier scores corpusN²/4 pairs: " +
          s"$corpusN rows > 32768. Feed marginScore the gated ANN " +
          "lists at this scale (the in-job recall gate prices that " +
          "swap).")
      val a = e.filter(col("vec_id") % 2 === 0)
      val b = e.filter(col("vec_id") % 2 === 1)
      // the two directions' checkpoints share only the scan
      val (fwd, bwd) = Par.overlap {
        Similarity.bruteForceTopK(
          a, "vec_id", "embedding", b, "vec_id", "embedding", k = 4)
          .localCheckpoint(true)
      } {
        Similarity.bruteForceTopK(
          b, "vec_id", "embedding", a, "vec_id", "embedding", k = 4)
          .localCheckpoint(true)
      }
      // at-scale candidate stage, gated in-job: IVF self-search
      // candidates restricted to cross-parity pairs must recover the
      // exact cross-side top-4 for the sampled query population
      val effMod = derivedSampleMod(e, dir, 10L, "q267 gate")
      // probe only the gate's sampled queries (queryPred — their
      // lists are bitwise unchanged; the unsampled ones were
      // filtered away below anyway)
      val annCross = Similarity.ivfTopK(e, "vec_id", "embedding",
          k = 8, queryPred = Some(c => c % effMod === 0))
        .filter((col("query_id") % 2) =!= (col("nn_id") % 2))
      val exactSample = collectToLocal(
        fwd.unionByName(bwd)
          .filter(col("query_id") % effMod === 0)
          .select("query_id", "nn_id"),
        "q267 sampled exact reference (raise sampleMod)")
      val recall = graft.operators.Gates.pairRecall(
        annCross.filter(col("query_id") % effMod === 0), exactSample)
      graft.operators.Gates.requireFloor(recall, 0.30,
        s"q267 cross-parity IVF candidate recall@4 (every ${effMod}th query)")
      val mfwd = graft.operators.Align.marginScore(
        fwd, bwd, k = 4, minMargin = 1.05)
      val mbwd = graft.operators.Align.marginScore(
        bwd, fwd, k = 4, minMargin = 1.05)
      mfwd.as("f").join(mbwd.as("b"),
          col("f.src_id") === col("b.dst_id") &&
            col("f.dst_id") === col("b.src_id"))
        .select(col("f.src_id").as("keep_id"),
          col("f.dst_id").as("drop_id"),
          col("f.cos"), col("f.margin"))
        .orderBy("keep_id")
    },
    // shared with the streaming twin q269 (ExtShared) — the streamed
    // pair set equals this batch result after the final micro-batch
    Some(crossLingualOracle)
  )

  private val q276_list_invalidation = Q(
    "q276_list_invalidation",
    // Tombstone blast radius through maintained k-NN LIST state — the
    // fourth derived artifact of the delete lifecycle (clusters q271,
    // indexes q274, packed chunks q275, and here the per-query
    // neighbor lists the q269/q273 streams maintain): a deleted QUERY
    // drops its whole list; every OTHER query whose list held the
    // deleted vector loses entries a k-bounded list cannot locally
    // refill (the (k+1)th neighbor was evicted at build time), so
    // those queries need a RE-SCORE, not a patch — needs_rescore is
    // the work order a list-maintenance job consumes. Lists are the
    // exact dual k-NN state (q267's supplier, the state q269
    // maintains bitwise; same loud 32768-row bound); tombstones are
    // the q271/q274/q275 batch (vec_id % 97), so the whole delete
    // story runs on one consistent request across all four layers.
    // The operator is touched-first (q271's discipline): tombstones
    // broadcast, touched query ids from two narrow semi-join scans,
    // only their rows enter the one partial-aggregable groupBy — the
    // corpus-sized list state never shuffles.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      val corpusN = corpusCount(e, dir)
      require(corpusN <= 32768L,
        s"q276's exact dual-kNN supplier scores corpusN²/4 pairs: " +
          s"$corpusN rows > 32768. Feed listInvalidation the streamed " +
          "ANN lists (q273's state) at this scale.")
      val a = e.filter(col("vec_id") % 2 === 0)
      val b = e.filter(col("vec_id") % 2 =!= 0)
      val lists = Similarity.bruteForceTopK(
          b, "vec_id", "embedding", a, "vec_id", "embedding", k = 4)
        .unionByName(Similarity.bruteForceTopK(
          a, "vec_id", "embedding", b, "vec_id", "embedding", k = 4))
      val tomb = e.select(col("vec_id")).filter(col("vec_id") % 97 === 0)
      Similarity.listInvalidation(lists, tomb, "vec_id")
        .orderBy("query_id")
    },
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      a AS (SELECT * FROM e WHERE vec_id % 2 = 0),
      b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
      c AS MATERIALIZED (SELECT x.vec_id AS xid, y.vec_id AS yid,
        list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(x.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(y.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))) AS cos
        FROM a x JOIN b y ON true),
      fwd AS (SELECT xid AS query_id, yid AS nn_id, row_number() OVER (
          PARTITION BY xid ORDER BY cos DESC, yid) AS r FROM c),
      bwd AS (SELECT yid AS query_id, xid AS nn_id, row_number() OVER (
          PARTITION BY yid ORDER BY cos DESC, xid) AS r FROM c),
      l AS (SELECT query_id, nn_id FROM fwd WHERE r <= 4
        UNION ALL SELECT query_id, nn_id FROM bwd WHERE r <= 4),
      g AS (SELECT query_id,
          CAST(max(CASE WHEN query_id % 97 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS own_deleted,
          CAST(count(*) AS BIGINT) AS k_before,
          CAST(sum(CASE WHEN nn_id % 97 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lost
        FROM l GROUP BY query_id)
      SELECT query_id, own_deleted, k_before, n_lost,
        CAST(CASE WHEN own_deleted = 1 THEN 0
          ELSE k_before - n_lost END AS BIGINT) AS k_after,
        CAST(CASE WHEN own_deleted = 0 AND n_lost >= 1 THEN 1
          ELSE 0 END AS BIGINT) AS needs_rescore
      FROM g WHERE own_deleted = 1 OR n_lost >= 1
      ORDER BY query_id""")
  )

  private val q278_list_repair = Q(
    "q278_list_repair",
    // CONSUME q276's work order — the delete lifecycle's REPAIR step
    // (r11 verdict #2): q276 reports which maintained k-NN lists a
    // right-to-be-forgotten batch breaks (needs_rescore — a k-bounded
    // list cannot locally refill); this query runs the maintenance
    // job that heals them. Same vec_id % 97 request as q271–q277, so
    // the story composes end to end: deleted queries' lists drop,
    // untouched lists pass through verbatim (still exact on the
    // survivor corpus — removing non-members cannot change a top-k),
    // and every needs_rescore query is re-scored against the
    // SURVIVING corpus through the IVF candidate machinery
    // (Similarity.listRepair: survivor-trained cells, ivfCandidates
    // over the bounded rescore set, cross-parity filter BEFORE
    // ranking — q273's lesson; the index is no-ghost-gated with a
    // limit-1 fail-fast). The healed lists are recall-gated IN-JOB
    // against a sampled exact re-score on the survivors (q267's
    // discipline, floor 0.30) and the query EMITS that sampled exact
    // reference — the q48/q92 bitwise-oracle contract. SimilaritySpec
    // pins the degenerate equivalence: nprobe >= nlist makes the
    // whole healed state equal the one-shot exact dual k-NN on the
    // survivor corpus, bitwise. The exact dual-kNN list SUPPLIER is
    // the bounded oracle face (q276's 32768 bound; feed q273's
    // streamed lists at scale).
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      val corpusN = corpusCount(e, dir)
      require(corpusN <= 32768L,
        s"q278's exact dual-kNN supplier scores corpusN²/4 pairs: " +
          s"$corpusN rows > 32768. Feed listRepair the streamed ANN " +
          "lists (q273's state) at this scale.")
      // fail-fast oracle alignment BEFORE the expensive supplier
      val effMod = derivedSampleMod(e, dir, 5L, "q278 gate")
      val a = e.filter(col("vec_id") % 2 === 0)
      val b = e.filter(col("vec_id") % 2 =!= 0)
      // persisted: the n²/4 supplier feeds listRepair (radius +
      // untouched pass-through) AND the rescore-sample derivation —
      // lazy plans would re-run the quadratic pass per branch. Every
      // action completes inside this body (collectToLocal + the
      // gate), so the unpersist below is safe
      val lists = Similarity.bruteForceTopK(
          b, "vec_id", "embedding", a, "vec_id", "embedding", k = 4)
        .unionByName(Similarity.bruteForceTopK(
          a, "vec_id", "embedding", b, "vec_id", "embedding", k = 4))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tomb = e.select(col("vec_id")).filter(col("vec_id") % 97 === 0)
      val survivors = e.filter(col("vec_id") % 97 =!= 0)
      // sampled exact re-score on the survivors: the gate's reference
      // and the emitted oracle rows (never the corpus square — one
      // survivor scan per direction over the sampled rescore queries)
      val rescoreSample = Similarity
        .listInvalidation(lists, tomb, "vec_id")
        .filter(col("needs_rescore") === 1L &&
          col("query_id") % effMod === 0)
        .select("query_id")
      val qvecs = e.select(col("vec_id").as("query_id"),
          col("embedding"))
        .join(rescoreSample, Seq("query_id"), "left_semi")
      val sa = survivors.filter(col("vec_id") % 2 === 0)
      val sb = survivors.filter(col("vec_id") % 2 =!= 0)
      val exact = Similarity.bruteForceTopK(
          sb, "vec_id", "embedding",
          qvecs.filter(col("query_id") % 2 === 0), "query_id",
          "embedding", k = 4)
        .unionByName(Similarity.bruteForceTopK(
          sa, "vec_id", "embedding",
          qvecs.filter(col("query_id") % 2 =!= 0), "query_id",
          "embedding", k = 4))
      // the healed leg (survivor-IVF train → listRepair → the gate's
      // sampled lists) shares nothing with the exact-reference collect
      // but the persisted supplier (block-level cache locking computes
      // it once)
      try {
        val (emitted, healedSampled) = Par.overlap {
          // survivor-trained IVF (deterministic: hash-ordered bounded
          // sample, fixed-seed k-means — the family's training rule)
          val (assign, cents) = Similarity.ivfIndex(
            survivors, "vec_id", "embedding", nlist = 16, sampleSize = 256)
          Similarity.listRepair(
              lists, e, "vec_id", "embedding", tomb, "vec_id",
              assign, cents, k = 4, nprobe = 4,
              candidateFilter = (col("query_id") % 2) =!= (col("nn_id") % 2))
            .filter(col("query_id") % effMod === 0)
            .select("query_id", "nn_id")
            .localCheckpoint()
        } {
          collectToLocal(exact,
            "q278 sampled exact rescore reference (raise sampleMod)")
        }
        val recall = graft.operators.Gates.pairRecall(healedSampled, emitted)
        graft.operators.Gates.requireFloor(recall, 0.30,
          s"q278 repaired-list recall@4 (every ${effMod}th rescored query)")
        emitted.orderBy("query_id", "rank")
      } finally lists.unpersist(blocking = false)
    },
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      a AS (SELECT * FROM e WHERE vec_id % 2 = 0),
      b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
      c AS MATERIALIZED (SELECT x.vec_id AS xid, y.vec_id AS yid,
        list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(x.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(y.embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))) AS cos
        FROM a x JOIN b y ON true),
      fwd AS (SELECT xid AS query_id, yid AS nn_id, row_number() OVER (
          PARTITION BY xid ORDER BY cos DESC, yid) AS r FROM c),
      bwd AS (SELECT yid AS query_id, xid AS nn_id, row_number() OVER (
          PARTITION BY yid ORDER BY cos DESC, xid) AS r FROM c),
      l AS (SELECT query_id, nn_id FROM fwd WHERE r <= 4
        UNION ALL SELECT query_id, nn_id FROM bwd WHERE r <= 4),
      g AS (SELECT query_id,
          max(CASE WHEN query_id % 97 = 0 THEN 1 ELSE 0 END)
            AS own_deleted,
          sum(CASE WHEN nn_id % 97 = 0 THEN 1 ELSE 0 END) AS n_lost
        FROM l GROUP BY query_id),
      rs AS (SELECT query_id FROM g
        WHERE own_deleted = 0 AND n_lost >= 1 AND query_id % 5 = 0),
      s AS (SELECT xid AS query_id, yid AS nn_id, cos FROM c
          WHERE xid IN (SELECT query_id FROM rs) AND yid % 97 <> 0
        UNION ALL
        SELECT yid AS query_id, xid AS nn_id, cos FROM c
          WHERE yid IN (SELECT query_id FROM rs) AND xid % 97 <> 0),
      r2 AS (SELECT query_id, nn_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nn_id) AS BIGINT) AS rank FROM s)
      SELECT query_id, rank, nn_id, cos FROM r2
      WHERE rank <= 4 ORDER BY query_id, rank""")
  )

  val all: Seq[Q] = Seq(
    q276_list_invalidation,
    q278_list_repair,
    q256_principal_component,
    q249_dim_drift,
    q242_semantic_dedup,
    q236_centroid_drift,
    q39_sim_bruteforce_topk,
    q40_sim_ann_lsh,
    q48_sim_ann_ivf,
    q63_sim_ann_int8,
    q62_embedding_quantize,
    q114_random_projection,
    q115_sim_ann_projected,
    q86_index_compaction,
    q92_ivf_index_probe,
    q104_ivf_compaction,
    q107_ivf_probe_int8,
    q90_label_centroids,
    q91_centroid_outliers,
    q97_centroids_twophase,
    q204_cluster_quality,
    q212_kmeans,
    q259_bitext_margin,
    q260_silhouette,
    q262_mmr_diversify,
    q263_retrieval_eval,
    q267_crosslingual_dedup)
}
