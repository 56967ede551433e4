package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Par
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.queries.Catalog.{Q, table, events}
import graft.queries.ExtShared._

/** Structured Streaming twins: windowed aggs, joins, sessionization, dedup/ANN/agg ingestion, contract and PSI monitors.
  * Split from the former single Extensions.scala (round 7) for
  * navigability — zero behavior change; [[Extensions.all]] still
  * concatenates every family. */
private[queries] object ExtStreaming {

  private val q250_stream_auc = Q(
    "q250_stream_auc",
    // Streaming model-performance monitor, oracle-backed end to
    // end: the q244-trained model's scored corpus arrives as TWO
    // micro-batches (doc_id parity) through aucStream; each batch's
    // exact-midrank ROC AUC lands in the batch-keyed ledger
    // (idempotent replay by overwrite). The oracle replays training
    // to w3, rescores, and rebuilds each half's midrank sum — a
    // deployed filter whose per-batch AUC slides is drifting.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q250_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext =
          s.sqlContext
        val halves = cachedFixture(s"q250:$dir") {
          val f = ExtCuration.qualityFeatures(s, dir)
          val feats = Seq("x1", "x2", "x3", "x4")
          val last = graft.operators.Classify.logisticGD(
            f, "y", feats, lr = 2.0, iterations = 3)
            .orderBy("iter").collect().last
          val w = (3 to 7).map(last.getDouble)
          val scored = graft.operators.Classify
            .score(f, feats, w)
            .select(col("doc_id"), col("y"), col("score"))
          def half(p: org.apache.spark.sql.Column) =
            scored.filter(p).select("y", "score")
              .as[(Long, Double)].collect().toSeq
          (half(col("doc_id") % 2 === 0),
            half(col("doc_id") % 2 =!= 0))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Double)]
        val q = graft.streaming.Streams.aucStream(
          mem.toDF().toDF("y", "score"), "y", "score",
          s"$base/ledger", s"$base/ckpt")
        try {
          mem.addData(halves._1)
          q.processAllAvailable()
          mem.addData(halves._2)
          q.processAllAvailable()
        } finally q.stop()
        collectToLocal(
          s.read.parquet(s"$base/ledger")
            .select(col("batch").cast("long").as("batch_id"),
              col("n_pos"), col("n_neg"), col("auc")),
          "q250 auc ledger")
          .orderBy("batch_id")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))
      }
    },
    Some(s"""WITH ${ExtCuration.qualityTrainCtes},
      sc AS (SELECT f.doc_id % 2 AS batch_id, f.y,
          round(1.0/(1.0+exp(-(w3.b0 + w3.w1*f.x1 + w3.w2*f.x2
            + w3.w3*f.x3 + w3.w4*f.x4))), 6) AS s
        FROM f CROSS JOIN w3),
      cnt AS (SELECT batch_id, s, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS cp
        FROM sc GROUP BY 1, 2),
      cum AS (SELECT batch_id, s, c, cp,
          sum(c) OVER (PARTITION BY batch_id ORDER BY s) AS cm
        FROM cnt),
      agg AS (SELECT batch_id,
          CAST(sum(cp) AS BIGINT) AS n_pos,
          CAST(sum(c - cp) AS BIGINT) AS n_neg,
          CAST(sum(cp * (2 * cm - c + 1)) AS BIGINT) AS r2a
        FROM cum GROUP BY 1)
      SELECT CAST(batch_id AS BIGINT) AS batch_id, n_pos, n_neg,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          round(CAST(r2a - n_pos * (n_pos + 1) AS DOUBLE)
            / (2.0 * CAST(n_pos * n_neg AS DOUBLE)), 6)
          END AS auc
      FROM agg ORDER BY batch_id""")
  )

  private val q101_stream_ingest_dedup = Q(
    "q101_stream_ingest_dedup",
    // Continuous near-dup ingestion, oracle-backed end to end: the
    // corpus arrives as TWO micro-batches through ingestNearDupStream
    // — batch 0 has no index and self-pairs; batch 1 probes batch 0's
    // persisted index deltas (the old half is never re-shingled). The
    // union of the per-batch pair outputs must equal the one-shot
    // full-corpus LSH pair set, so the q36 exact-Jaccard oracle
    // applies unchanged to the STREAMING path. The batches arrive via
    // MemoryStream from session-cached halves (fixture prep out of
    // the timed region — the measured cost is the per-batch probe +
    // delta/pair writes, i.e. ingestNearDupBatch); the scratch tree
    // (index, pairs, checkpoint) is fresh per run and dies with the
    // invocation on every path.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q101_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val (h1, h2) = cachedFixture(s"q101:$dir") {
          val docs = table(s, dir, "documents").select("doc_id", "text")
          val cut = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
          (docs.filter(col("doc_id") <= cut)
              .as[(Long, String)].collect().toSeq,
            docs.filter(col("doc_id") > cut)
              .as[(Long, String)].collect().toSeq)
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        // a MemoryStream batch is one local partition; a production
        // file/Kafka source arrives in many splits — restore that
        // parallelism so the measured operator runs its real shape
        val q = graft.streaming.Streams.ingestNearDupStream(
          mem.toDF().toDF("doc_id", "text")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text",
          indexDir = s"$base/index", pairsDir = s"$base/pairs",
          checkpointDir = s"$base/ckpt")
        try {
          mem.addData(h1)
          q.processAllAvailable() // batch 0: first half, no index yet
          mem.addData(h2)
          q.processAllAvailable() // batch 1: second half vs the deltas
        } finally q.stop()
        // near-dup pair sets are tiny next to their corpora: collect
        // into a local relation (no sort needed before the collect —
        // the emitted frame is ordered below)
        collectToLocal(
          s.read.parquet(s"$base/pairs")
            .select("id_a", "id_b", "jaccard"),
          "q101 pair set")
          .orderBy("id_a", "id_b")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    },
    Some(jaccardOracle)
  )

  private val q105_stream_ingest_ann = Q(
    "q105_stream_ingest_ann",
    // Continuous EMBEDDING ingestion, oracle-backed end to end — the
    // ANN twin of q101: the corpus (augmented with q56's planted
    // 0.5x-scaled near-dups, so DuckDB rebuilds it bitwise) arrives
    // as TWO micro-batches through ingestVectorStream — batch 0
    // trains the IVF centroids (deterministically) and self-probes;
    // batch 1 is ASSIGNED to the persisted centroids (never
    // retrained) and probes batch 0's assignment deltas plus itself
    // under the ingestion-order candidate rule (newer id probes
    // older). The union of per-batch pair outputs equals the one-shot
    // ivfNearDupPairs set (StreamsSpec pins the equality), and
    // planted same-direction pairs are captured structurally (the
    // partner's cell IS the prober's first probe), so the q56 exact
    // >= 0.99 oracle applies unchanged to the STREAMING path. The
    // batches arrive via MemoryStream — no corpus-copy scaffolding;
    // the scratch tree (index deltas, centroids, checkpoint) is fresh
    // per run and dies with the invocation on every path.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q105_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val (h1, h2) = cachedFixture(s"q105:$dir") {
          val e = table(s, dir, "embeddings").select("vec_id", "embedding")
          val planted = e.filter(col("vec_id") < 100)
            .select((col("vec_id") + 10000).as("vec_id"),
              transform(col("embedding"),
                x => (x * lit(0.5f)).cast("float")).as("embedding"))
          val corpus = e.unionByName(planted)
          val cut = e.agg(max(col("vec_id"))).first().getLong(0) / 2
          def half(pred: org.apache.spark.sql.Column): Seq[(Long, Seq[Float])] =
            corpus.filter(pred).as[(Long, Seq[Float])].collect().toSeq
          (half(col("vec_id") <= cut), half(col("vec_id") > cut))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        // restore source parallelism (see q101 — one local partition
        // is not the shape a production stream arrives in)
        val q = graft.streaming.Streams.ingestVectorStream(
          mem.toDF().toDF("vec_id", "embedding")
            .repartition(s.sparkContext.defaultParallelism),
          "vec_id", "embedding",
          indexDir = s"$base/index", pairsDir = s"$base/pairs",
          centroidsDir = s"$base/cents", checkpointDir = s"$base/ckpt",
          minCos = 0.99, nlist = 16, nprobe = 4)
        try {
          // batch 0: first half (original ids only — planted copies
          // all sit above the cut, so every planted pair is a
          // new-vs-old probe or a batch-1 self pair)
          mem.addData(h1)
          q.processAllAvailable()
          mem.addData(h2)
          q.processAllAvailable()
        } finally q.stop()
        collectToLocal(
          s.read.parquet(s"$base/pairs").select("id_a", "id_b", "cos"),
          "q105 pair set")
          .orderBy("id_a", "id_b")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    },
    // same exact-pair oracle as q56: the streaming path must lose
    // nothing against the full >= 0.99 pair set over the augmented
    // corpus
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

  private val q269_stream_crosslingual = Q(
    "q269_stream_crosslingual",
    // Continuous CROSS-LINGUAL dedup, oracle-backed end to end — the
    // streaming twin of q267 (the r9 verdict's suggested pull): the
    // embedding corpus arrives as TWO micro-batches (each mixing
    // both parities) through ingestCrossLingualStream. Exact k-NN
    // LISTS are the maintained state — cos(x, y) never changes, so
    // batch N scores only batch×prior + batch×batch cross-parity
    // pairs and merges them into the k-bounded per-query lists. Its
    // touched set is the whole corpus by construction, so each batch
    // writes the whole list state as its lists delta, re-mines
    // margin+mutuality over that delta (bitwise the touched-only
    // re-mine, see Streams.mergeListsAndMine) and publishes per-query
    // margin rows folded by crossLingualPairs.
    // After the final batch the lists equal the one-shot exact dual
    // k-NN bitwise (same (cos desc, id) tie-break, cos bitwise
    // direction-symmetric), so the streamed pair set equals q267's
    // batch result and the SAME oracle applies unchanged. The exact
    // batch×state scorer is the bounded oracle face (q267's loud
    // 32768 bound, enforced here on the same corpus count); the
    // at-scale candidate swap is the IVF probe q267's in-job recall
    // gate prices and q105 already streams. Scratch state (vector
    // deltas, list states, pairs, checkpoint) is fresh per run and
    // dies with the invocation on every path.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      val corpusN = corpusCount(e, dir)
      require(corpusN <= 32768L,
        s"q269's exact batch×state supplier scores corpusN²/4 pairs " +
          s"across its batches: $corpusN rows > 32768. Use " +
          "ingestCrossLingualAnnStream (q273) at this scale — the " +
          "shipped recall-gated candidate mode; q267's in-job gate " +
          "prices the swap.")
      val base = java.nio.file.Files
        .createTempDirectory("graft_q269_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val (h1, h2) = cachedFixture(s"q269:$dir") {
          val cut = e.agg(max(col("vec_id"))).first().getLong(0) / 2
          def half(pred: org.apache.spark.sql.Column): Seq[(Long, Seq[Float])] =
            e.select("vec_id", "embedding").filter(pred)
              .as[(Long, Seq[Float])].collect().toSeq
          (half(col("vec_id") <= cut), half(col("vec_id") > cut))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        // restore source parallelism (see q101 — one local partition
        // is not the shape a production stream arrives in)
        val q = graft.streaming.Streams.ingestCrossLingualStream(
          mem.toDF().toDF("vec_id", "embedding")
            .repartition(s.sparkContext.defaultParallelism),
          "vec_id", "embedding",
          vecsDir = s"$base/vecs", listsDir = s"$base/lists",
          pairsDir = s"$base/pairs", checkpointDir = s"$base/ckpt",
          k = 4, minMargin = 1.05)
        try {
          mem.addData(h1)
          q.processAllAvailable() // batch 0: first half, no state yet
          mem.addData(h2)
          q.processAllAvailable() // batch 1: second half vs the lists
        } finally q.stop()
        // the folded add/del deltas ARE the current mutual
        // best-margin mining over the whole corpus — mutual pair
        // sets are tiny next to their corpora (collectToLocal bound)
        collectToLocal(
          graft.streaming.Streams.crossLingualPairs(s, s"$base/pairs")
            .select("keep_id", "drop_id", "cos", "margin"),
          "q269 mutual pair set")
          .orderBy("keep_id")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    },
    // q267's oracle verbatim: the streamed result IS the batch result
    Some(crossLingualOracle)
  )

  private val q273_stream_crosslingual_ann = Q(
    "q273_stream_crosslingual_ann",
    // Continuous cross-lingual dedup in its AT-SCALE candidate mode —
    // the composition q269's exact-supplier bound names as its swap,
    // now shipped (r10 verdict #1): the corpus arrives as TWO
    // micro-batches through ingestCrossLingualAnnStream; each batch
    // assigns its vectors to the batch-0-trained IVF cells, probes
    // the accumulated assignment deltas + itself for CROSS-PARITY
    // candidates (ivfCandidates — the parity filter runs before any
    // ranking), merges both orientations into the k-bounded lists,
    // and re-mines margin+mutuality over the lists. Nothing
    // broadcasts and nothing scores batch×corpus — per-batch cost is
    // |batch|·corpus/nlist·nprobe, so the streamed cross-lingual
    // path no longer carries the 32768-row exact bound. The lists
    // are recall-gated approximations, so the query applies q267's
    // gate discipline IN-JOB (streamed list pair-recall@4 over the
    // sampled queries vs the exact sampled reference, floor 0.30 —
    // the measured price of the swap) and EMITS the sampled exact
    // reference for the bitwise oracle — the q48/q92 contract.
    // Sample mod 5, not the family's 10: vec_id % 10 = 0 is all-even
    // and would gate only the forward direction; % 5 samples both
    // parities. StreamsSpec additionally pins the degenerate
    // equivalence (nprobe >= nlist ⇒ lists and pairs equal the exact
    // mode bitwise) and crash-replay idempotence.
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      // this bounds the FIXTURE TRANSPORT, not the operator: the
      // MemoryStream harness collects the corpus to the driver to
      // feed the stream (every streaming query's fixture does — a
      // production deployment reads a real source and never
      // collects). The OPERATOR under test carries no such bound —
      // that is q273's whole point — so the guard names the harness,
      // loudly, instead of dying in an opaque driver OOM (r11
      // review: the at-scale query must not inherit an unbounded
      // collect from its test harness).
      val corpusN = corpusCount(e, dir)
      require(corpusN <= 262144L,
        s"q273's MemoryStream fixture collects the corpus to the " +
          s"driver: $corpusN rows > 262144. The ingest OPERATOR is " +
          "unbounded — feed it from a real streaming source at this " +
          "scale instead of the in-test MemoryStream harness.")
      // fail-fast oracle alignment (r11 ADVICE): derivedSampleMod
      // hard-fails when corpus size pushes the effective modulus past
      // the static oracle's 5 — check BEFORE building the fixture and
      // running the two-batch stream, not after all that work is spent
      val effMod = derivedSampleMod(e, dir, 5L, "q273 gate")
      val base = java.nio.file.Files
        .createTempDirectory("graft_q273_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val (h1, h2) = cachedFixture(s"q269:$dir") {
          val cut = e.agg(max(col("vec_id"))).first().getLong(0) / 2
          def half(pred: org.apache.spark.sql.Column): Seq[(Long, Seq[Float])] =
            e.select("vec_id", "embedding").filter(pred)
              .as[(Long, Seq[Float])].collect().toSeq
          (half(col("vec_id") <= cut), half(col("vec_id") > cut))
        }
        // sampled exact reference: ONE corpus scan per direction over
        // the sampled queries (O(n·|sample|)) — never the n²/4 the
        // exact streamed supplier pays. It reads only the embeddings
        // table, never the stream's state, so its collect overlaps the
        // whole two-batch stream run
        val a = e.filter(col("vec_id") % 2 === 0)
        val b = e.filter(col("vec_id") % 2 =!= 0)
        val exact = Similarity.bruteForceTopK(
            b, "vec_id", "embedding",
            a.filter(col("vec_id") % effMod === 0), "vec_id",
            "embedding", k = 4)
          .unionByName(Similarity.bruteForceTopK(
            a, "vec_id", "embedding",
            b.filter(col("vec_id") % effMod === 0), "vec_id",
            "embedding", k = 4))
        val (st, emitted) = Par.overlap {
          collectToLocal(exact,
            "q273 sampled exact reference (raise sampleMod)")
        } {
          val mem = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, Seq[Float])]
          // restore source parallelism (see q101 — one local partition
          // is not the shape a production stream arrives in)
          val q = graft.streaming.Streams.ingestCrossLingualAnnStream(
            mem.toDF().toDF("vec_id", "embedding")
              .repartition(s.sparkContext.defaultParallelism),
            "vec_id", "embedding",
            vecsDir = s"$base/vecs", centroidsDir = s"$base/cents",
            listsDir = s"$base/lists", pairsDir = s"$base/pairs",
            checkpointDir = s"$base/ckpt",
            k = 4, minMargin = 1.05, nlist = 16, nprobe = 4)
          try {
            mem.addData(h1)
            q.processAllAvailable() // batch 0: trains cells, self-probes
            mem.addData(h2)
            q.processAllAvailable() // batch 1: probes deltas + itself
          } finally q.stop()
          graft.streaming.Streams.crossLingualLists(s, s"$base/lists")
        }
        val recall = graft.operators.Gates.pairRecall(
          st.filter(col("query_id") % effMod === 0), emitted)
        graft.operators.Gates.requireFloor(recall, 0.30,
          s"q273 streamed ANN cross-parity list recall@4 (every ${effMod}th query)")
        emitted.orderBy("query_id", "rank")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    },
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      q AS (SELECT vec_id, embedding FROM e WHERE vec_id % 5 = 0),
      s AS (SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
        (sqrt(list_aggregate(list_transform(q.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
         sqrt(list_aggregate(list_transform(c.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cos
        FROM q JOIN e c ON (c.vec_id % 2) <> (q.vec_id % 2)),
      r AS (SELECT query_id, nn_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nn_id) AS BIGINT) AS rank FROM s)
      SELECT query_id, rank, nn_id, cos FROM r
      WHERE rank <= 4 ORDER BY query_id, rank""")
  )

  private val q272_stream_delete_propagation = Q(
    "q272_stream_delete_propagation",
    // Continuous right-to-be-forgotten ingestion, oracle-backed end
    // to end — the streaming twin of q271: tombstone batches arrive
    // through ingestDeleteStream and each publishes the blast radius
    // it causes AS OF the deletes already honored (per touched
    // cluster: surviving-member counts against the PRE-batch state,
    // whether THIS batch deleted the canonical representative, the
    // new surviving representative). State is the family's delta
    // layout — the base cluster map is written once and never
    // rewritten; each batch appends only its own ids, and the
    // pre-batch survivor view subtracts deltas strictly below the
    // batch id (the q101/q105/q269 replay rule). Two batches:
    // doc_id % 97, then doc_id % 89 — doc 0 sits in BOTH, so the
    // double-delete no-op and the rep-already-dead attribution
    // (rep_deleted names exactly one batch) are exercised on the
    // oracle-checked path, not just in specs. The oracle rebuilds
    // the clusters with the recursive-closure CTE and replays both
    // batches sequentially in SQL. Scratch state dies with the
    // invocation.
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 32, rowsPerBand = 4,
        minJ = 0.5)
      val clusters = Dedup.duplicateClusters(docs.select("doc_id"), pairs)
      val base = java.nio.file.Files
        .createTempDirectory("graft_q272_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        clusters.write.parquet(s"$base/clusters")
        val (t0, t1) = cachedFixture(s"q272:$dir") {
          val ids = docs.select(col("doc_id")).as[Long].collect().sorted.toSeq
          (ids.filter(_ % 97 == 0), ids.filter(_ % 89 == 0))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[Long]
        // restore source parallelism (see q101 — one local partition
        // is not the shape a production stream arrives in)
        val q = graft.streaming.Streams.ingestDeleteStream(
          mem.toDF().toDF("doc_id")
            .repartition(s.sparkContext.defaultParallelism),
          clustersDir = s"$base/clusters", deltaDir = s"$base/deltas",
          reportDir = s"$base/reports", checkpointDir = s"$base/ckpt")
        try {
          mem.addData(t0)
          q.processAllAvailable() // batch 0: % 97 against the full map
          mem.addData(t1)
          q.processAllAvailable() // batch 1: % 89 against the survivors
        } finally q.stop()
        // touched-cluster reports are delete-batch-sized, tiny next
        // to their corpora (collectToLocal bound)
        collectToLocal(
          s.read.parquet(s"$base/reports")
            .select(col("batch").cast("long").as("batch"),
              col("cluster_id"), col("n_members"), col("n_deleted"),
              col("n_survivors"), col("rep_deleted"), col("new_rep")),
          "q272 per-batch blast-radius reports")
          .orderBy("batch", "cluster_id")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
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
      r0 AS (SELECT CAST(0 AS BIGINT) AS batch, cluster_id,
          CAST(count(*) AS BIGINT) AS n_members,
          CAST(sum(del) AS BIGINT) AS n_deleted,
          CAST(count(*) - sum(del) AS BIGINT) AS n_survivors,
          CAST(max(CASE WHEN id = cluster_id THEN del ELSE 0 END)
            AS BIGINT) AS rep_deleted,
          min(CASE WHEN del = 0 THEN id END) AS new_rep
        FROM (SELECT id, cluster_id,
            CASE WHEN id % 97 = 0 THEN 1 ELSE 0 END AS del FROM cl) x
        GROUP BY cluster_id HAVING sum(del) >= 1),
      s1 AS (SELECT id, cluster_id FROM cl WHERE id % 97 <> 0),
      r1 AS (SELECT CAST(1 AS BIGINT) AS batch, cluster_id,
          CAST(count(*) AS BIGINT) AS n_members,
          CAST(sum(del) AS BIGINT) AS n_deleted,
          CAST(count(*) - sum(del) AS BIGINT) AS n_survivors,
          CAST(max(CASE WHEN id = cluster_id THEN del ELSE 0 END)
            AS BIGINT) AS rep_deleted,
          min(CASE WHEN del = 0 THEN id END) AS new_rep
        FROM (SELECT id, cluster_id,
            CASE WHEN id % 89 = 0 THEN 1 ELSE 0 END AS del FROM s1) y
        GROUP BY cluster_id HAVING sum(del) >= 1)
      SELECT * FROM r0 UNION ALL SELECT * FROM r1
      ORDER BY batch, cluster_id""")
  )

  private val q43_stream_windowed = Q(
    "q43_stream_windowed",
    // Batch twin of Streams.windowedTypeCounts (identical logical
    // plan runs under readStream; StreamsSpec proves stream==batch).
    (s, dir) =>
      graft.streaming.Streams.windowedTypeCounts(events(s, dir), "1 hour", "2 hours")
        .orderBy("window_start", "event_type"),
    Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""")
  )

  private val q52_stream_join = Q(
    "q52_stream_join",
    // Batch twin of Streams.clickToPurchaseJoin (stream-stream interval
    // join with watermark-bounded state); StreamsSpec proves the
    // MemoryStream run returns these exact rows.
    (s, dir) => {
      val ev = events(s, dir)
      graft.streaming.Streams.clickToPurchaseJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        windowSec = 600L)
        .orderBy("purchase_id", "click_id")
    },
    Some("""SELECT p.user_id, p.event_id AS purchase_id,
      p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts,
      p.value
      FROM events p JOIN events c
        ON p.user_id = c.user_id AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 600 SECOND
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      ORDER BY purchase_id, click_id""")
  )

  private val q58_sessionize = Q(
    "q58_sessionize",
    // 30-minute-gap sessions as one declarative window pipeline;
    // StreamsSpec pins the gap rule on a hand fixture, the oracle pins
    // batch == SQL.
    (s, dir) =>
      graft.streaming.Streams.sessionizeBatch(events(s, dir), gapMs = 1800000L)
        .orderBy("user_id", "started_ms"),
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
      m AS (SELECT user_id, t,
        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000
          THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      s AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id
        ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        min(t) AS started_ms, max(t) AS ended_ms
      FROM s GROUP BY user_id, sid ORDER BY user_id, started_ms""")
  )

  private val q59_stream_dedup = Q(
    "q59_stream_dedup",
    // Key-distinct events; StreamsSpec pins the key projection.
    (s, dir) =>
      graft.streaming.Streams.dedupBatch(
        events(s, dir), Seq("user_id", "event_type"))
        .orderBy("user_id", "event_type"),
    Some("""SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")
  )

  private val q135_stream_ingest_agg = Q(
    "q135_stream_ingest_agg",
    // Continuous aggregate-view maintenance, oracle-backed end to
    // end: the events corpus arrives as TWO micro-batches (event_id
    // parity halves) through ingestAggStream; each batch folds into
    // its own state delta and the emitted view is the state-sized
    // merge of the deltas — the oracle recomputes the view from ALL
    // raw events, so the hash compare is "streamed view == full
    // recompute" on the real foreachBatch path. Fixture halves are
    // session-cached (prep out of the timed region, the q101
    // convention); the scratch tree dies with the invocation.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q135_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val (h1, h2) = cachedFixture(s"q135:$dir") {
          val ev = events(s, dir).select(
            col("event_id"), col("event_type"),
            datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
              .cast("long").as("day"),
            floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
              .as("cents"))
          def half(p: org.apache.spark.sql.Column) =
            ev.filter(p).select("event_type", "day", "cents")
              .as[(String, Long, Option[Long])].collect().toSeq
          (half(col("event_id") % 2 === 0), half(col("event_id") % 2 =!= 0))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Long, Option[Long])]
        val q = graft.streaming.Streams.ingestAggStream(
          mem.toDF().toDF("event_type", "day", "cents")
            .repartition(s.sparkContext.defaultParallelism),
          Seq("event_type", "day"), "cents",
          stateDir = s"$base/state", checkpointDir = s"$base/ckpt")
        try {
          mem.addData(h1)
          q.processAllAvailable() // batch 0 -> state delta 0
          mem.addData(h2)
          q.processAllAvailable() // batch 1 -> state delta 1
        } finally q.stop()
        collectToLocal(
          graft.streaming.Streams.aggView(s, s"$base/state"),
          "q135 agg view")
          .orderBy("event_type", "day")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    },
    Some("""WITH b AS (SELECT event_type,
        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          AS BIGINT) AS day,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
      SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(cents) AS BIGINT) AS sum_v,
        min(cents) AS min_v, max(cents) AS max_v
      FROM b GROUP BY event_type, day ORDER BY event_type, day""")
  )

  private val q180_stream_expectations = Q(
    "q180_stream_expectations",
    // Continuous data-contract enforcement, oracle-backed end to
    // end: the events corpus arrives as TWO micro-batches (event_id
    // parity halves) through expectationsStream; each batch's audit
    // verdicts land in the batch-keyed parquet ledger (idempotent
    // replay by overwrite) and the oracle recomputes every per-half
    // violation count from the raw events.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q180_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val (h1, h2) = cachedFixture(s"q180:$dir") {
          val ev = events(s, dir)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"))
          def half(p: org.apache.spark.sql.Column) =
            ev.filter(p).select("user_id", "event_type", "value")
              .as[(Option[Long], String, Option[Double])].collect().toSeq
          (half(col("event_id") % 2 === 0),
            half(col("event_id") % 2 =!= 0))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Option[Long], String, Option[Double])]
        val checks = Seq(
          "type_accepted" -> col("event_type").isin(
            "click", "view", "purchase", "signup", "error"),
          "user_not_null" -> col("user_id").isNotNull,
          "value_range" -> col("value").between(0.0, 50.0))
        val q = graft.streaming.Streams.expectationsStream(
          mem.toDF().toDF("user_id", "event_type", "value")
            .repartition(s.sparkContext.defaultParallelism),
          checks, s"$base/ledger", s"$base/ckpt")
        try {
          mem.addData(h1)
          q.processAllAvailable()
          mem.addData(h2)
          q.processAllAvailable()
        } finally q.stop()
        collectToLocal(
          graft.streaming.Streams.expectationsLedger(s, s"$base/ledger")
            .select(col("batch").cast("long").as("batch_id"),
              col("rule"), col("kind"), col("violations"),
              col("total"), col("pass")),
          "q180 expectations ledger")
          .orderBy("batch_id", "rule")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))
      }
    },
    Some("""WITH b AS (SELECT event_id % 2 AS half, user_id,
        event_type, value FROM events),
      t AS (SELECT half, CAST(count(*) AS BIGINT) AS total
        FROM b GROUP BY 1),
      r AS (
        SELECT half, 'type_accepted' AS rule, 'row' AS kind,
          CAST(sum(CASE WHEN COALESCE(event_type IN ('click', 'view',
            'purchase', 'signup', 'error'), FALSE)
            THEN 0 ELSE 1 END) AS BIGINT) AS violations
          FROM b GROUP BY 1
        UNION ALL SELECT half, 'user_not_null', 'row',
          CAST(sum(CASE WHEN user_id IS NOT NULL
            THEN 0 ELSE 1 END) AS BIGINT) FROM b GROUP BY 1
        UNION ALL SELECT half, 'value_range', 'row',
          CAST(sum(CASE WHEN COALESCE(
            value BETWEEN 0.0 AND 50.0, FALSE)
            THEN 0 ELSE 1 END) AS BIGINT) FROM b GROUP BY 1)
      SELECT CAST(r.half AS BIGINT) AS batch_id, r.rule, r.kind,
        r.violations, t.total, r.violations = 0 AS pass
      FROM r JOIN t USING (half) ORDER BY batch_id, rule""")
  )

  private val q87_route_quality = Q(
    "q87_route_quality",
    // The quality router's batch face: per-(route, source) volumes —
    // the triage report a curation run reads before deciding
    // thresholds. Streams.routeByQuality is the SAME projection the
    // streaming sink partitions by (StreamsSpec pins stream == batch);
    // the oracle recomputes the 6-decimal quality score and the CASE
    // thresholds bitwise, q31-style.
    (s, dir) =>
      graft.streaming.Streams.routeByQuality(
        table(s, dir, "documents"), "text")
        .groupBy("route", "source")
        .agg(count(lit(1)).as("n"))
        .orderBy("route", "source"),
    Some(s"""WITH t AS (SELECT source, text,
        CASE WHEN length(text) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(text,
            '[.,;:!?''"()\\[\\]{}-]')) AS DOUBLE) / length(text) END AS pr,
        CASE WHEN len($W) = 0 THEN 0.0
          ELSE CAST(len(list_filter($W, x -> list_contains($stopList, x)))
            AS DOUBLE) / len($W) END AS sr
      FROM documents),
      q AS (SELECT source,
        round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
          + least(sr * 5.0, 1.0) * 0.4
          + (1.0 - least(pr * 4.0, 1.0)) * 0.1, 6) AS quality FROM t)
      SELECT CASE WHEN quality >= 0.75 THEN 'keep'
          WHEN quality >= 0.5 THEN 'review' ELSE 'reject' END AS route,
        source, CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2 ORDER BY route, source""")
  )

  private val q205_watermark_audit = Q(
    "q205_watermark_audit",
    // Watermark sizing audit: replay events in arrival order
    // (event_id) per type, measure how far behind the running
    // event-time high-water mark each event lands, and emit the
    // late rate plus max/p95 lateness — the numbers that pick the
    // withWatermark() delay instead of guessing it. One partitioned
    // running-max window, exact integer microseconds.
    (s, dir) =>
      graft.operators.Profile.latenessAudit(
        events(s, dir), Seq("event_type"), "ts", "event_id")
        .orderBy("event_type"),
    Some("""WITH o AS (SELECT event_type, event_id, epoch_us(ts) AS us,
        max(epoch_us(ts)) OVER (PARTITION BY event_type
          ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        FROM events),
      l AS (SELECT event_type, CASE WHEN mx IS NULL THEN 0
          ELSE greatest(mx - us, 0) END AS late_us FROM o)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS late_n,
        CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS late_rate,
        CAST(max(late_us) AS BIGINT) AS max_late_us,
        quantile_cont(CAST(late_us AS DOUBLE), 0.95) AS p95_late_us
      FROM l GROUP BY 1 ORDER BY 1""")
  )

  private val q213_stream_psi = Q(
    "q213_stream_psi",
    // Continuous drift monitoring, oracle-backed end to end: the
    // month's first half is the FIXED reference; the second half
    // arrives as TWO micro-batches (event_id parity) through
    // psiStream, each batch's per-type PSI landing in the
    // batch-keyed ledger (idempotent replay by overwrite). The
    // oracle recomputes every batch's PSI from raw events — the
    // q208 arithmetic, per half.
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q213_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val ev = events(s, dir)
        val ref = ev.filter(dayofmonth(col("ts")) <= 15)
          .select(col("event_type"), col("value"))
        val (h1, h2) = cachedFixture(s"q213:$dir") {
          def half(p: org.apache.spark.sql.Column) =
            ev.filter(dayofmonth(col("ts")) > 15 && p)
              .select("event_type", "value")
              .as[(String, Option[Double])].collect().toSeq
          (half(col("event_id") % 2 === 0),
            half(col("event_id") % 2 =!= 0))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Option[Double])]
        val q = graft.streaming.Streams.psiStream(
          mem.toDF().toDF("event_type", "value"), ref,
          Seq("event_type"), "value", s"$base/ledger", s"$base/ckpt")
        try {
          mem.addData(h1)
          q.processAllAvailable()
          mem.addData(h2)
          q.processAllAvailable()
        } finally q.stop()
        collectToLocal(
          s.read.parquet(s"$base/ledger")
            .select(col("batch").cast("long").as("batch_id"),
              col("event_type"), col("n_ref"), col("n_cur"),
              col("psi")),
          "q213 psi ledger")
          .orderBy("batch_id", "event_type")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))
      }
    },
    Some("""WITH refr AS (SELECT event_type, value FROM events
        WHERE date_part('day', ts) <= 15 AND value IS NOT NULL),
      curb AS (SELECT event_id % 2 AS half, event_type, value
        FROM events
        WHERE date_part('day', ts) > 15 AND value IS NOT NULL),
      b AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM refr GROUP BY 1),
      rb AS (SELECT refr.event_type, CASE WHEN b.hi = b.lo THEN 0
          ELSE greatest(0, least(9, CAST(floor(
            ((refr.value - b.lo) / (b.hi - b.lo)) * 10) AS BIGINT)))
          END AS bin, count(*) AS nr
        FROM refr JOIN b USING (event_type) GROUP BY 1, 2),
      cb AS (SELECT curb.half, curb.event_type,
          CASE WHEN b.hi = b.lo THEN 0
          ELSE greatest(0, least(9, CAST(floor(
            ((curb.value - b.lo) / (b.hi - b.lo)) * 10) AS BIGINT)))
          END AS bin, count(*) AS nc
        FROM curb JOIN b USING (event_type) GROUP BY 1, 2, 3),
      halves AS (SELECT DISTINCT half FROM curb),
      grid AS (SELECT h.half, b.event_type, u.bin AS bin FROM b
        CROSS JOIN halves h
        CROSS JOIN unnest(range(0, 10)) AS u(bin)),
      cells AS (SELECT g.half, g.event_type, g.bin,
          COALESCE(rb.nr, 0) AS nr, COALESCE(cb.nc, 0) AS nc
        FROM grid g
        LEFT JOIN rb ON rb.event_type = g.event_type
          AND rb.bin = g.bin
        LEFT JOIN cb ON cb.half = g.half
          AND cb.event_type = g.event_type AND cb.bin = g.bin),
      t AS (SELECT half, event_type, CAST(sum(nr) AS BIGINT) AS n_ref,
          CAST(sum(nc) AS BIGINT) AS n_cur
        FROM cells GROUP BY 1, 2),
      terms AS (SELECT cells.half, cells.event_type, t.n_ref,
          t.n_cur, cells.bin,
          (greatest(CAST(nr AS DOUBLE) / CAST(n_ref AS DOUBLE), 1e-6)
           - greatest(CAST(nc AS DOUBLE) / CAST(n_cur AS DOUBLE),
             1e-6))
          * ln(greatest(CAST(nr AS DOUBLE) / CAST(n_ref AS DOUBLE),
              1e-6)
            / greatest(CAST(nc AS DOUBLE) / CAST(n_cur AS DOUBLE),
              1e-6)) AS term
        FROM cells JOIN t ON t.half = cells.half
          AND t.event_type = cells.event_type
        WHERE t.n_ref > 0 AND t.n_cur > 0)
      SELECT CAST(half AS BIGINT) AS batch_id, event_type, n_ref,
        n_cur,
        round(list_aggregate(list(term ORDER BY bin), 'sum'), 6)
          AS psi
      FROM terms GROUP BY half, event_type, n_ref, n_cur
      ORDER BY batch_id, event_type""")
  )

  private val q233_stream_ratio_ci = Q(
    "q233_stream_ratio_ci",
    // Continuous experiment monitoring, oracle-backed end to end:
    // the month's second half arrives as TWO micro-batches
    // (event_id parity) of per-user units (arm = user_id % 2,
    // clicks, events) through ratioCiStream; each batch's per-arm
    // delta-method CI lands in the batch-keyed ledger (idempotent
    // replay by overwrite). The oracle recomputes every batch's
    // units and the q229 arithmetic per (batch, arm).
    (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_q233_").toString
      try {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext =
          s.sqlContext
        val ev = events(s, dir)
        val halves = cachedFixture(s"q233:$dir") {
          def half(p: org.apache.spark.sql.Column) =
            ev.filter(dayofmonth(col("ts")) > 15 && p &&
              col("user_id").isNotNull)
              .groupBy(col("user_id"),
                (col("user_id") % 2).as("arm"))
              .agg(sum(when(col("event_type") === "click", 1L)
                .otherwise(0L)).as("clicks"),
                count(lit(1)).as("n_events"))
              .select("arm", "clicks", "n_events")
              .as[(Long, Long, Long)].collect().toSeq
          (half(col("event_id") % 2 === 0),
            half(col("event_id") % 2 =!= 0))
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Long)]
        val q = graft.streaming.Streams.ratioCiStream(
          mem.toDF().toDF("arm", "clicks", "n_events"),
          Seq("arm"), "clicks", "n_events",
          s"$base/ledger", s"$base/ckpt", ciPct = 95, scale = 0)
        try {
          mem.addData(halves._1)
          q.processAllAvailable()
          mem.addData(halves._2)
          q.processAllAvailable()
        } finally q.stop()
        collectToLocal(
          s.read.parquet(s"$base/ledger")
            .select(col("batch").cast("long").as("batch_id"),
              col("arm"), col("n_units"), col("ratio"), col("se"),
              col("ci_lo"), col("ci_hi")),
          "q233 ratio-ci ledger")
          .orderBy("batch_id", "arm")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))
      }
    },
    Some("""WITH u AS (SELECT event_id % 2 AS half, user_id,
        CAST(user_id % 2 AS BIGINT) AS arm,
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
          AS BIGINT) AS x,
        CAST(count(*) AS BIGINT) AS y
        FROM events
        WHERE date_part('day', ts) > 15 AND user_id IS NOT NULL
        GROUP BY 1, 2, 3),
      m AS (SELECT half, arm, CAST(count(*) AS BIGINT) AS n,
        sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        sum(y*y) AS syy, sum(x*y) AS sxy FROM u GROUP BY 1, 2),
      f AS (SELECT half, arm, n,
        CAST(n AS DOUBLE) AS nd,
        CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio,
        CAST(n*sxx - sx*sx AS DOUBLE)
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vx,
        CAST(n*syy - sy*sy AS DOUBLE)
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vy,
        CAST(n*sxy - sx*sy AS DOUBLE)
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cxy,
        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
        (sy <> 0 AND n >= 2) AS ok FROM m),
      g AS (SELECT half, arm, n, ok, ratio,
        sqrt((vx + ratio * ratio * vy - 2.0 * ratio * cxy)
          / (nd * ybar * ybar)) AS se FROM f)
      SELECT CAST(half AS BIGINT) AS batch_id, arm, n AS n_units,
        CASE WHEN ok THEN round(ratio, 6) END AS ratio,
        CASE WHEN ok THEN round(se, 6) END AS se,
        CASE WHEN ok THEN round(ratio - 1.959963984540054 * se, 6)
          END AS ci_lo,
        CASE WHEN ok THEN round(ratio + 1.959963984540054 * se, 6)
          END AS ci_hi
      FROM g ORDER BY batch_id, arm""")
  )

  val all: Seq[Q] = Seq(
    q250_stream_auc,
    q233_stream_ratio_ci,
    q101_stream_ingest_dedup,
    q105_stream_ingest_ann,
    q269_stream_crosslingual,
    q273_stream_crosslingual_ann,
    q272_stream_delete_propagation,
    q43_stream_windowed,
    q52_stream_join,
    q58_sessionize,
    q59_stream_dedup,
    q135_stream_ingest_agg,
    q180_stream_expectations,
    q87_route_quality,
    q205_watermark_audit,
    q213_stream_psi)
}
