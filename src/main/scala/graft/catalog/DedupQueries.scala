package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DerivedTables._
import Shared._

/** Dedup and similarity: exact / near-duplicate pairs, clusters,
  * decontamination, span dedup and embedding ANN. */
private[catalog] object DedupQueries {

  /** Exact-Jaccard oracle over distinct 3-token shingles at threshold
    * `t` (a SQL literal): the full pairwise join, so any recall miss of a
    * candidate plan shows up as a missing row. */
  private def jaccardOracleSql(t: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS tk
       |  FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
       |      THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
       |      ELSE [] END) AS sh
       |    FROM toks)
       |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(round((i * 1.0 / (sa.n + sb.n - i)) * 10000.0) AS BIGINT) AS jaccard_e4
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE i * 1.0 / (sa.n + sb.n - i) >= $t
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact content dedup: one survivor (min doc_id) per text md5. */
  private val exactDedupSql: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS survivor_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** MinHash+LSH pairs with the portable lane hash (2-shingles, 32 lanes,
    * 16 bands, est-jaccard ≥ 0.1) — the plan minhashCtes replays. */
  private def portableMinhashPairs(docs: DataFrame): DataFrame =
    Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1,
      signature = Dedup.minhashSignaturePortable)

  /** The ANN query side: vec_id < 5 probe the rest of the table. */
  private def annQueries(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  /** IVF centroids: every 50th id seeds, two spherical-k-means Lloyd
    * iterations over every 10th id refine (the ivfCentsCtes twin). */
  private def refinedCentroids(emb: DataFrame): Seq[(Long, Seq[Double])] =
    Similarity.refineCentroids(emb, "vec_id", "embedding",
      Similarity.sampleCentroids(emb, "vec_id", "embedding", stride = 50),
      stride = 10, iters = 2)

  /** Literal ±1 hyperplane matrix shared verbatim by the e_ann_lsh plan
    * and its DuckDB oracle (16 planes × 64 dims, md5-derived constants). */
  private val AnnPlanes: Array[Array[Int]] = Similarity.planeMatrix(16, 64)

  /** SQL rendering of the 16-bit quantized hyperplane signature against the
    * literal AnnPlanes matrix (expects a `qv` BIGINT[] column in scope) —
    * shared verbatim by the e_ann_lsh and d_embed_neardup oracles. */
  private val annSigTermsSql: String =
    AnnPlanes.zipWithIndex.map { case (row, p) =>
      val lits = row.mkString("[", ",", "]")
      s"CASE WHEN list_sum(list_transform(range(1, 65), j -> qv[j] * ($lits)[j])) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")

  /** Shared by d_decontaminate and d_decontaminate_bloom: the bloom
    * prefilter has no false negatives and its exact verify join removes
    * false positives, so both plans must produce THIS exact result. */
  private val decontaminateOracleSql: String =
    s"""WITH $toksCte, sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 4
       |    THEN list_distinct(list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')))
       |    ELSE [] END AS sh
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), evh AS (
       |  SELECT DISTINCT ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 = 0
       |), trh AS (
       |  SELECT doc_id, ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 <> 0
       |)
       |SELECT t.doc_id, count(DISTINCT t.h) AS n_shared
       |FROM trh t JOIN evh e ON t.h = e.h
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Duplicate-cluster oracle: the minhash pair pipeline (minhashCtes),
    * then the transitive closure as a recursive CTE (UNION dedup
    * terminates it) and min-reachable-id labels; singletons fall out of
    * the LEFT JOIN. */
  private val dupLabelCtes: String =
    s"""$minhashCtes, pairs AS (
       |  SELECT id_a, id_b FROM est WHERE agree / 32.0 >= 0.1
       |), sym AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |), reach(n, m) AS (
       |  SELECT u, v FROM sym
       |  UNION SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m
       |), labels AS (
       |  SELECT n, least(n, min(m)) AS comp FROM reach GROUP BY n
       |)""".stripMargin

  /** Shared IVF oracle prelude: doubles view, every-50th seed centroids,
    * every-10th Lloyd sample, two spherical-k-means iterations → `cents`,
    * plus the data cell `assign` and 3-probe `probes` CTEs. Reused by the
    * plain IVF oracle and the IVF×PQ composition oracle. */
  private val ivfCentsCtes: String = {
    def lloyd(centsIn: String, assignCte: String, meansCte: String, centsOut: String): String =
      s"""$assignCte AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT s.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY list_cosine_similarity(s.dv, c.cv) DESC, c.cid ASC) AS rn
         |    FROM samp s, $centsIn c) WHERE rn = 1
         |), $meansCte AS (
         |  SELECT cid, list(m ORDER BY j) AS mv FROM (
         |    SELECT a.cid AS cid, t.j AS j, AVG(s.dv[t.j]) AS m
         |    FROM samp s JOIN $assignCte a ON a.vec_id = s.vec_id,
         |         unnest(range(1, 65)) AS t(j)
         |    GROUP BY a.cid, t.j)
         |  GROUP BY cid
         |), $centsOut AS (
         |  SELECT c.cid, COALESCE(m.mv, c.cv) AS cv
         |  FROM $centsIn c LEFT JOIN $meansCte m ON m.cid = c.cid
         |)""".stripMargin
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
      |), cents0 AS (
      |  SELECT vec_id AS cid, dv AS cv FROM v WHERE vec_id % 50 = 0
      |), samp AS (
      |  SELECT vec_id, dv FROM v WHERE vec_id % 10 = 0
      |), ${lloyd("cents0", "lassign1", "lmeans1", "cents1")},
      |${lloyd("cents1", "lassign2", "lmeans2", "cents")},
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT d.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY list_cosine_similarity(d.dv, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v d, cents c WHERE d.vec_id >= 5)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS q_id, cid FROM (
      |    SELECT q.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.dv, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v q, cents c WHERE q.vec_id < 5)
      |  WHERE rn <= 3
      |)""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("d_para_dedup", (s, d) => {
      // corpus-wide paragraph-level exact dedup (RefinedWeb/MassiveText
      // repeat-paragraph removal): keep the globally FIRST occurrence of
      // every unit (8-token chunks here — the synthetic paragraph for the
      // newline-free fixture), reassemble documents from their surviving
      // units. One shuffle on the unit md5; survivor pick is a
      // map-side-combining min aggregate, never a window.
      Dedup.paraDedup(documents(s, d), "text", "doc_id",
          t => TextAnalysis.tokenChunks(Dedup.tokens(t), 8))
        .select(col("doc_id"), col("clean_text"), col("n_kept"), col("n_total"))
        .orderBy(col("doc_id"))
    },
      // global first-occurrence keep over 8-token chunks: the (doc_id, pos)
      // min is a total order, so the window-rank oracle and the engine's
      // min-struct aggregate agree exactly
      s"""WITH $toksCte, units AS (
         |  SELECT doc_id,
         |    unnest(range(1, CAST(ceil(len(tk)/8.0) AS BIGINT) + 1)) AS i, tk
         |  FROM toks WHERE len(tk) > 0
         |), u2 AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[(i-1)*8+1:i*8], ' ') AS unit
         |  FROM units
         |), marked AS (
         |  SELECT doc_id, pos, unit,
         |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
         |  FROM u2
         |)
         |SELECT doc_id,
         |  coalesce(array_to_string(list(unit ORDER BY pos) FILTER (WHERE rn = 1), ' '), '') AS clean_text,
         |  count(*) FILTER (WHERE rn = 1)::BIGINT AS n_kept,
         |  count(*)::BIGINT AS n_total
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("d_dedup_exact", (s, d) => {
      Dedup.exactDedupByHash(documents(s, d), "text", "doc_id")
        .orderBy(col("text_md5"))
    },
      exactDedupSql),

    Query("d_dedup_incremental", (s, d) => {
      // the daily-crawl delta: docs < 400 are yesterday's state, docs
      // >= 400 today's batch; the (min, sum) monoid merge must equal the
      // full recompute — the oracle IS the full-corpus dedup SQL
      val docs = documents(s, d)
      val state = Dedup.exactDedupByHash(
        docs.where(col("doc_id") < 400), "text", "doc_id")
      Dedup.exactDedupIncrement(state,
          docs.where(col("doc_id") >= 400), "text", "doc_id")
        .orderBy(col("text_md5"))
    },
      // the incremental merge must EQUAL the full recompute — same SQL
      exactDedupSql),

    Query("d_jaccard_pairs", (s, d) => {
      // t = 0.4 dispatches to the Bayardo prefix-filter plan — the
      // dedup-typical, scale-representative path (the inverted-index
      // low-threshold corner is exercised separately by d_jaccard_lowt)
      Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
        shingleLen = 3, threshold = 0.4, maxShingleFreq = 10000)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
        .cache() // tiny result; the sort's range sampler otherwise
                 // re-executes the per-candidate exact-verify tail
        .orderBy(col("id_a"), col("id_b"))
    },
      jaccardOracleSql("0.4")),

    Query("d_jaccard_lowt", (s, d) => {
      // the low-threshold corner, now on its real scale path: banded
      // MinHash candidates (r=1, b=64 — miss probability (1-J)^64 ≤
      // 2.8e-4 at J=t) + EXACT per-pair Jaccard verify. The oracle below
      // is the full exact join — a recall miss would fail the hash gate,
      // so the green result certifies the banding caught every pair
      Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
        shingleLen = 3, threshold = 0.12, maxShingleFreq = 10000)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
        .cache() // see d_jaccard_pairs: verify tail runs once, not twice
        .orderBy(col("id_a"), col("id_b"))
    },
      jaccardOracleSql("0.12")),

    Query("d_minhash_pairs", (s, d) => {
      // MinHash+LSH near-dup candidates with the PORTABLE lane hash —
      // the DuckDB oracle reproduces signatures, banding, and the
      // est-jaccard verify bit-for-bit (statistical recall vs brute force
      // is separately proven in DedupSpec with the fast engine hash)
      portableMinhashPairs(documents(s, d))
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard") * 10000).cast("long").as("est_e4"))
        .cache() // tiny result; sampler would re-run the est-verify joins
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $minhashCtes
         |SELECT id_a, id_b, CAST(round(agree * 10000.0 / 32) AS BIGINT) AS est_e4
         |FROM est WHERE agree / 32.0 >= 0.1 ORDER BY id_a, id_b""".stripMargin),

    Query("d_simhash_pairs", (s, d) => {
      // 4 bands of 15 bits ⇒ complete recall for Hamming <= 3 (pigeonhole)
      Dedup.simhashPairs(documents(s, d), "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // Full SimHash oracle: portable token hashes → 60-bit sign-vote
      // fingerprint → 4×15-bit band buckets → exact Hamming <= 3 verify.
      // Mirrors Dedup.simhashPairs exactly.
      {
        val th = hash60Sql("t")
        s"""WITH $toksCte, th AS (
           |  SELECT doc_id, list_transform(tk, t -> $th) AS th FROM toks
           |), fp AS (
           |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i ->
           |    CASE WHEN coalesce(list_sum(list_transform(th, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
           |    THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
           |  FROM th WHERE len(th) > 0
           |), banded AS (
           |  SELECT doc_id, fp, q, (fp >> CAST(q * 15 AS INT)) & 32767 AS v
           |  FROM fp, unnest(range(0, 4)) AS t(q)
           |)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
           |FROM banded a JOIN banded b ON a.q = b.q AND a.v = b.v AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.fp, b.fp)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    Query("d_dup_clusters", (s, d) => {
      // the step AFTER pair generation in a real dedup pipeline: collapse
      // the near-dup pair graph (same params as d_minhash_pairs) into
      // duplicate clusters via large-star/small-star connected components;
      // component == min doc_id, so `doc_id = component` marks the
      // representative a keep-one pass would retain
      val docs = documents(s, d)
      val pairs = portableMinhashPairs(docs)
      Components.labelNodes(docs, "doc_id", pairs, "id_a", "id_b")
        .cache() // sampler would re-run the label join
        .orderBy(col("doc_id"))
    },
      s"""WITH RECURSIVE $dupLabelCtes
         |SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component
         |FROM documents d LEFT JOIN labels l ON l.n = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    Query("d_dedup_keep_best", (s, d) => {
      // representative selection — the pipeline's final step: pairs →
      // clusters → keep ONE doc per cluster (longest, tie = lowest id).
      // One row_number window partitioned by component; the pair graph
      // and labels are the same plan as d_dup_clusters
      val docs = documents(s, d)
      val pairs = portableMinhashPairs(docs)
      val labels = Components.labelNodes(docs, "doc_id", pairs, "id_a", "id_b")
      val withLen = docs
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .join(labels, "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      withLen.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("component"), col("doc_id").as("keep_id"), col("n_tokens"))
        .cache() // sampler would re-run the window + label join
        .orderBy(col("component"))
    },
      // cluster labels (dupLabelCtes), then one representative per
      // cluster by (n_tokens desc, doc_id asc)
      s"""WITH RECURSIVE $dupLabelCtes, comp AS (
         |  SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component,
         |    len(list_filter(string_split_regex(d.text, '\\s+'), x -> len(x) > 0)) AS n_tokens
         |  FROM documents d LEFT JOIN labels l ON l.n = d.doc_id
         |), ranked AS (
         |  SELECT component, doc_id AS keep_id, n_tokens, row_number() OVER (
         |    PARTITION BY component ORDER BY n_tokens DESC, doc_id ASC) AS rn
         |  FROM comp
         |)
         |SELECT component, keep_id, n_tokens FROM ranked WHERE rn = 1
         |ORDER BY component""".stripMargin),

    Query("d_decontaminate", (s, d) => {
      // benchmark decontamination: docs with doc_id % 50 == 0 play the
      // held-out benchmark; every train doc sharing a 4-token shingle
      // with it is flagged with its distinct shared-shingle count. The
      // eval shingle-hash set is benchmark-sized → broadcast; the train
      // side is never shuffled before the per-doc aggregation
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val trainDocs = docs.where(col("doc_id") % 50 =!= 0)
      CorpusOps.flagOverlap(trainDocs, evalDocs, "text", "doc_id", n = 4)
        .orderBy(col("doc_id"))
    },
      // same tokenize → 4-shingle → 60-bit md5 hash → eval-set semi machinery
      decontaminateOracleSql),

    Query("d_decontaminate_bloom", (s, d) => {
      // the SAME sweep on its large-benchmark scale path: eval hashes
      // folded into Spark's own distributed BloomFilterAggregate, train
      // side prefiltered by a narrow codegen'd might_contain (still never
      // shuffled), exact join only over the surviving sliver. Bloom has
      // no false negatives and the exact join removes false positives, so
      // the oracle is IDENTICAL to d_decontaminate's
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val trainDocs = docs.where(col("doc_id") % 50 =!= 0)
      CorpusOps.flagOverlapBloom(trainDocs, evalDocs, "text", "doc_id",
          n = 4, expectedItems = 100000L, fpp = 0.01)
        .orderBy(col("doc_id"))
    },
      // bloom prefilter + exact verify ≡ the exact broadcast sweep (no false
      // negatives; false positives removed) — the oracle IS d_decontaminate's
      decontaminateOracleSql),

    Query("d_dup_spans", (s, d) => {
      // corpus-level duplicated-span fraction — the exact-substring-dedup
      // signal (Lee et al. 2021 proxy): every rolling 8-token window
      // hashed, duplicated = its hash occurs >= 2 times corpus-wide
      // (cross-doc or within-doc). Occurrences reduce to (doc, hash, m)
      // map-side before any corpus-wide exchange; the hash (8 bytes)
      // stands in for the span end-to-end
      CorpusOps.dupSpans(documents(s, d), "text", "doc_id", n = 8)
        .orderBy(col("doc_id"))
    },
      // dupSpans replayed: rolling (non-distinct) 8-token windows, the same
      // 60-bit md5 fold standing in for the span, duplicated = corpus
      // occurrence count >= 2; permyriad = floor division, exact integers
      s"""WITH $toksCte, w AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 8
         |    THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))
         |    ELSE [] END AS ws
         |  FROM toks
         |), occ AS (
         |  SELECT doc_id, ${hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, unnest(ws) AS s FROM w)
         |), dm AS (
         |  SELECT doc_id, h, count(*) AS m FROM occ GROUP BY 1, 2
         |), hc AS (
         |  SELECT h, sum(m) AS c FROM dm GROUP BY 1
         |), pd AS (
         |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN c >= 2 THEN m ELSE 0 END) AS BIGINT) AS dup_windows
         |  FROM dm JOIN hc USING (h) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(n_windows, 0) AS n_windows,
         |  coalesce(dup_windows, 0) AS dup_windows,
         |  CASE WHEN coalesce(n_windows, 0) > 0
         |    THEN (10000 * dup_windows) // n_windows ELSE 0 END AS dup_frac_e4
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    Query("e_cosine_topk", (s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteForceTopK(emb.where(col("vec_id") >= 5), annQueries(emb), k = 3)
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    },
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5
        |), datav AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings WHERE vec_id >= 5
        |)
        |SELECT q_id, sim_rank, vec_id FROM (
        |  SELECT q.q_id, d.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(d.dv, q.qv) DESC, d.vec_id ASC) AS sim_rank
        |  FROM q CROSS JOIN datav d)
        |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin),

    Query("e_ivf_pq", (s, d) => {
      // the full production ANN shape (FAISS-style IVFADC): IVF cells
      // prune the pair count (equi-join on cell — no cross join), PQ
      // compresses the per-pair cost (8 integer lookups). Same refined
      // centroids as e_ann_ivf; same codebook as e_pq_adc; integer ADC
      // ranking so the oracle is exact end-to-end.
      val emb = embeddings(s, d)
      Similarity.ivfPqTopK(emb.where(col("vec_id") >= 5), annQueries(emb),
          refinedCentroids(emb), k = 3, nProbe = 3)
        .orderBy(col("q_id"), col("pq_rank"))
    },
      // IVF×PQ oracle: the shared IVF cell/probe CTEs select the PAIRS; the
      // ranking itself is the integer PQ ADC distance (codes = per-subspace
      // integer argmin vs the formula codebook; adc = Σ_s dtable[s][code_s]).
      s"""$ivfCentsCtes, ei AS (
        |  SELECT vec_id, list_transform(dv, x -> CAST(round(x * 1000) AS BIGINT)) AS e
        |  FROM v
        |), sc AS (
        |  SELECT s.s, c.c
        |  FROM (SELECT unnest(range(0, 8)) AS s) s, (SELECT unnest(range(0, 8)) AS c) c
        |), dd AS (
        |  SELECT d.vec_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (d.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (d.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM ei d CROSS JOIN sc WHERE d.vec_id >= 5
        |), codes AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
        |    FROM dd
        |  ) WHERE rn = 1
        |), qd AS (
        |  SELECT q.vec_id AS q_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (q.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (q.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM ei q CROSS JOIN sc WHERE q.vec_id < 5
        |), adc AS (
        |  SELECT p.q_id, a.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  JOIN codes cd ON cd.vec_id = a.vec_id
        |  JOIN qd ON qd.q_id = p.q_id AND qd.s = cd.s AND qd.c = cd.code
        |  GROUP BY p.q_id, a.vec_id
        |), ranked AS (
        |  SELECT q_id, vec_id, adc_dist, row_number() OVER (
        |    PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS pq_rank
        |  FROM adc
        |)
        |SELECT q_id, pq_rank, vec_id, adc_dist
        |FROM ranked WHERE pq_rank <= 3 ORDER BY q_id, pq_rank""".stripMargin),

    Query("e_pq_adc", (s, d) => {
      // product-quantization ADC top-k (the embedding MEMORY-compression
      // scale path, complementing LSH/IVF's candidate pruning): fact side
      // encoded once to 8 codes by a narrow codegen'd expression, queries
      // broadcast their integer asymmetric-distance tables, approximate
      // distance = 8 table lookups. Deterministic formula codebook +
      // ⌊·1000⌉ quantization ⇒ the oracle replays every distance exactly.
      val emb = embeddings(s, d)
      Similarity.pqAdcTopK(emb.where(col("vec_id") >= 5), annQueries(emb), k = 3)
        .orderBy(col("q_id"), col("pq_rank"))
    },
      // PQ codebook formula + integer quantization replayed verbatim:
      // codes = per-subspace argmin of integer squared L2, ADC = Σ_s
      // dtable[s][code_s] — all BIGINT, order-free
      """WITH data AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ei
        |  FROM embeddings WHERE vec_id >= 5
        |), qs AS (
        |  SELECT vec_id AS q_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qi
        |  FROM embeddings WHERE vec_id < 5
        |), sc AS (
        |  SELECT s.s, c.c
        |  FROM (SELECT unnest(range(0, 8)) AS s) s, (SELECT unnest(range(0, 8)) AS c) c
        |), dd AS (
        |  SELECT d.vec_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (d.ei[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (d.ei[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM data d CROSS JOIN sc
        |), codes AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
        |    FROM dd
        |  ) WHERE rn = 1
        |), qd AS (
        |  SELECT q.q_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (q.qi[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (q.qi[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM qs q CROSS JOIN sc
        |), adc AS (
        |  SELECT qd.q_id, cd.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
        |  FROM codes cd JOIN qd ON qd.s = cd.s AND qd.c = cd.code
        |  GROUP BY qd.q_id, cd.vec_id
        |), ranked AS (
        |  SELECT q_id, vec_id, adc_dist, row_number() OVER (
        |    PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS pq_rank
        |  FROM adc
        |)
        |SELECT q_id, pq_rank, vec_id, adc_dist
        |FROM ranked WHERE pq_rank <= 3 ORDER BY q_id, pq_rank""".stripMargin),

    Query("e_ann_lsh", (s, d) => {
      // quantized-integer hyperplane signatures against the literal plane
      // matrix → the DuckDB oracle reproduces buckets and ranks exactly
      val emb = embeddings(s, d)
      Similarity.annTopK(emb.where(col("vec_id") >= 5), annQueries(emb), k = 3,
        nPlanes = 16, bands = 8,
        signature = Similarity.lshSignatureQuantized(_, AnnPlanes))
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    },
      // quantize → integer dot vs the literal plane matrix → 16-bit
      // signature → 8×2-bit band buckets → distinct candidates → cosine
      // rank. Mirrors Similarity.annTopK(lshSignatureQuantized).
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings
         |), sigs AS (
         |  SELECT vec_id, v, CAST($annSigTermsSql AS BIGINT) AS sig FROM base
         |), banded AS (
         |  SELECT vec_id, v, sig, b, (sig >> CAST(b * 2 AS INT)) & 3 AS bv
         |  FROM sigs, unnest(range(0, 8)) AS t(b)
         |), cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, d.vec_id AS vec_id
         |  FROM banded d JOIN banded q ON d.b = q.b AND d.bv = q.bv
         |  WHERE d.vec_id >= 5 AND q.vec_id < 5
         |)
         |SELECT q_id, sim_rank, vec_id FROM (
         |  SELECT c.q_id, c.vec_id,
         |    row_number() OVER (PARTITION BY c.q_id
         |      ORDER BY list_cosine_similarity(d.v, q.v) DESC, c.vec_id ASC) AS sim_rank
         |  FROM cand c
         |  JOIN sigs d ON d.vec_id = c.vec_id
         |  JOIN sigs q ON q.vec_id = c.q_id)
         |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin),

    Query("e_ann_ivf", (s, d) => {
      // IVF ANN: Voronoi cells around a deterministic centroid sample
      // (every 50th id) REFINED by two spherical-k-means Lloyd iterations
      // over a denser sample (every 10th id) — the refinement path is
      // oracle-gated, not just spec-gated. Data assigned by a narrow
      // argmax expression, queries probe their 3 nearest cells,
      // candidates equi-join on cell.
      val emb = embeddings(s, d)
      Similarity.ivfTopK(emb.where(col("vec_id") >= 5), annQueries(emb),
          refinedCentroids(emb), k = 3, nProbe = 3)
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    },
      // same deterministic centroid rule (every 50th id) plus the SAME two
      // spherical-k-means Lloyd iterations over the every-10th-id sample
      // (assignment = cosine argmax, ties → lower centroid id; update =
      // per-(cell, dim) mean; empty cells keep their centroid), then
      // nearest-centroid assignment, 3-cell probes, candidates joined on the
      // cell, exact cosine rank. Mirrors Similarity.refineCentroids +
      // ivfTopK. Output columns are integers; double-vs-double
      // summation-order ulps can only matter at exact argmax ties, which the
      // synthetic embeddings don't produce.
      s"""$ivfCentsCtes
        |SELECT q_id, sim_rank, vec_id FROM (
        |  SELECT p.q_id, a.vec_id,
        |    row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY list_cosine_similarity(d.dv, q.dv) DESC, a.vec_id ASC) AS sim_rank
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  JOIN v d ON d.vec_id = a.vec_id JOIN v q ON q.vec_id = p.q_id)
        |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin),

    Query("d_embed_neardup", (s, d) => {
      // embedding-cosine near-dup pairs: banded-LSH candidates + EXACT
      // integer threshold verify (cos >= 0.4 ⟺ dot>0 ∧ 25·dot² ≥ 4·‖a‖²‖b‖²
      // on the 10^-6-quantized vectors — bit-reproducible in DuckDB HUGEINT)
      Dedup.embeddingNearDupPairs(embeddings(s, d), "embedding", "vec_id",
        t2n = 4, t2d = 25, planes = AnnPlanes, bands = 8)
        .cache() // tiny result; sampler would re-run the decimal verify joins
        .orderBy(col("id_a"), col("id_b"))
    },
      // the identical banded-LSH candidate generation, then the EXACT
      // integer cosine-threshold test in HUGEINT (mirrors the engine's
      // DECIMAL(38,0) arithmetic bit-for-bit): cos ≥ 0.4 ⟺
      // dot > 0 ∧ 25·dot² ≥ 4·‖a‖²·‖b‖² on round(x·10^6) vectors.
      s"""WITH base AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings
         |), sigs AS (
         |  SELECT vec_id, qv, CAST($annSigTermsSql AS BIGINT) AS sig,
         |    list_sum(list_transform(range(1, 65), j -> CAST(qv[j] AS HUGEINT) * qv[j])) AS n2
         |  FROM base
         |), banded AS (
         |  SELECT vec_id, b, (sig >> CAST(b * 2 AS INT)) & 3 AS bv
         |  FROM sigs, unnest(range(0, 8)) AS t(b)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id
         |), scored AS (
         |  SELECT c.id_a, c.id_b,
         |    list_sum(list_transform(range(1, 65), j -> CAST(x.qv[j] AS HUGEINT) * y.qv[j])) AS dot,
         |    x.n2 AS na, y.n2 AS nb
         |  FROM cand c JOIN sigs x ON x.vec_id = c.id_a JOIN sigs y ON y.vec_id = c.id_b
         |)
         |SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q FROM scored
         |WHERE dot > 0 AND 25 * dot * dot >= 4 * na * nb
         |ORDER BY id_a, id_b""".stripMargin))
}
