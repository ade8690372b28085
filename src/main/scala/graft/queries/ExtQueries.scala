package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, DedupCluster, Dsir, Multimodal, Sampling, Similarity, TextAnalysis, Unigram}
import graft.sources.Tables
import graft.Par

/** Training-data-pipeline operators (ext tier, SURVEY §7.1) over the
  * documents/embeddings tables — dedup family, similarity search,
  * text analysis, multimodal plumbing. Oracles replicate the full
  * algorithm in DuckDB SQL wherever the math is engine-deterministic;
  * probabilistic-recall paths (LSH ANN) are rows-only and measured
  * against their exact baselines in ScalaTest instead.
  */
object ExtQueries {

  /** Memoized per-sfDir PCA fit: embedding_pca's build and its
    * generated oracle MUST share one model object — refitting on each
    * side would let the moment aggregation's ~1e-12 summation-order
    * drift (Pca scaladoc) produce two slightly different literal sets.
    */
  private val pcaModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Pca.Model]

  /** The corpus's autoCells-scaled k-means centroids, memoized per
    * dir for the same reason as [[pcaModels]]: the iterative fit
    * isn't SQL-expressible, but the FITTED model is model-sized —
    * query and generated oracle share one centroid set, and DuckDB
    * replays assignment, probes, edges, and drop rules from the
    * literals. SHARED by the SemDeDup row and the whole celled
    * kNN-graph family (knn_graph + the graph_* algorithms +
    * corpus_centrality): one fit per sweep, and every family member
    * computes over the SAME cell structure — exactly how a production
    * corpus snapshot reuses one persisted IVF index for serving,
    * dedup, and graph rebuilds.
    */
  private val cellModels = new java.util.concurrent
    .ConcurrentHashMap[String, Array[Array[Double]]]
  private def cellCentroidsFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] =
    cellModels.computeIfAbsent(dir, _ => {
      val e = Tables.load(s, dir, "embeddings")
      val nc = graft.operators.Similarity.autoCells(
        e.select("vec_id").count())
      graft.operators.Similarity.trainCentroids(
        e, "vec_id", "embedding", nc, iters = 5)
    })

  /** The cell-bounded corpus self-kNN graph over the shared
    * [[cellCentroidsFor]] model — the Scala side every graph-family
    * query computes on (r13: formerly these rows rebuilt an EXACT
    * brute n² graph per query, whose decade step is quadratic by
    * construction; the celled build is the 100 TB path and
    * knn_graph_gate pins its edge recall against brute at fixture
    * scale).
    */
  private def celledKnnGraph(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val cents = cellCentroidsFor(s, dir)
    graft.operators.Similarity.knnGraphFromIndex(
      graft.operators.Similarity.ivfAssign(e, "vec_id", "embedding",
        cents),
      cents, e, "vec_id", "embedding", k = 5, nProbe = 8)
  }

  /** DuckDB replay of [[celledKnnGraph]] ending in
    * `g0(qid, nid, rank, cos)`: unit vectors with L2Normalize's exact
    * op order, index-order centroid dots, first-max assignment,
    * top-`nProbe` probe cells (d desc, cid asc — the engine's
    * (-d, cid) struct sort), cell-mate scoring, self-pair excluded,
    * rank ≤ k with the brute pipeline's tie order. Callers project
    * the edge list they need from g0.
    */
  private def duckCelledKnnG0(centRows: String): String = s"""
        cent(cid, c) AS (VALUES $centRows),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nrm AS (SELECT vec_id, v, list_dot_product(v, v) AS s2 FROM e),
        u AS (SELECT vec_id, list_transform(v, x -> x *
                (CASE WHEN s2 = 0 THEN 1.0 ELSE 1.0 / sqrt(s2) END)) AS cv
              FROM nrm),
        cdots AS (SELECT u.vec_id, c.cid, list_dot_product(u.cv, c.c) AS d
                  FROM u CROSS JOIN cent c),
        casn AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                     ORDER BY d DESC, cid) AS rn FROM cdots) WHERE rn = 1),
        qprob AS (SELECT vec_id, cid FROM (
                    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid) AS rn FROM cdots) WHERE rn <= 8),
        kcand AS (SELECT p.vec_id AS qid, a.vec_id AS nid
                  FROM qprob p JOIN casn a ON a.cid = p.cid
                  WHERE a.vec_id <> p.vec_id),
        kscored AS (SELECT kcand.qid, kcand.nid,
                           round(list_dot_product(ua.cv, uq.cv), 4) AS cos
                    FROM kcand JOIN u ua ON ua.vec_id = kcand.nid
                    JOIN u uq ON uq.vec_id = kcand.qid),
        g0 AS (SELECT qid, nid, rank, cos FROM (
                 SELECT qid, nid, cos,
                        CAST(row_number() OVER (PARTITION BY qid
                          ORDER BY cos DESC, nid) AS INTEGER) AS rank
                 FROM kscored) WHERE rank <= 5)"""

  /** Centroids as DuckDB `(cid, c DOUBLE[])` VALUES rows —
    * round-trip-exact literals ([[fmtD]]) so the oracle's dots are
    * bit-identical to the engine's CentroidDots over the same model.
    */
  private def centroidRows(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(fmtD).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n          ")

  /** ann_topk_ivf's 16 corpus-trained centroids, memoized like
    * [[semModels]] (same share-one-fit argument).
    */
  private val annIvfModels = new java.util.concurrent
    .ConcurrentHashMap[String, Array[Array[Double]]]
  private def annIvfCentroidsFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] =
    annIvfModels.computeIfAbsent(dir, _ =>
      graft.operators.Similarity.trainCentroids(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") >= 10),
        "vec_id", "embedding", nCentroids = 16, iters = 5))

  /** ann_topk_pca's 64→32 uncentered rotation over the corpus's unit
    * vectors, memoized like [[annIvfModels]] (same share-one-fit
    * argument — query and generated oracle replay the identical
    * axes).
    */
  private val annPcaModels = new java.util.concurrent
    .ConcurrentHashMap[String, graft.operators.Pca.Model]
  private def annPcaModelFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String): graft.operators.Pca.Model =
    annPcaModels.computeIfAbsent(dir, _ =>
      graft.operators.Similarity.pcaAnnModel(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") >= 10),
        "vec_id", "embedding", nComponents = 32))

  private def pcaModelFor(
      s: org.apache.spark.sql.SparkSession, dir: String): graft.operators.Pca.Model =
    pcaModels.computeIfAbsent(dir, _ =>
      graft.operators.Pca.fit(Tables.load(s, dir, "embeddings"),
        "embedding", k = 16))

  /** Round-trip-exact double literal for SQL (Scala's Double.toString
    * is shortest-round-trip; DuckDB parses it back to the same bits).
    */
  private def fmtD(v: Double): String =
    if (v.isNaN || v.isInfinite)
      throw new IllegalStateException(s"non-finite model weight: $v")
    else v.toString

  /** DuckDB-side distinct 3-word shingles CTE (mirrors Dedup.shingles). */
  private val duckShingles = """
    words AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
              FROM documents),
    idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS g FROM words),
    sh AS (SELECT DISTINCT doc_id AS doc, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS shingle
           FROM idx)"""

  /** BPE pre-tokenizer regex, shared engine/oracle (no quote chars —
    * safe to inline in SQL string literals).
    */
  private val bpePreTokenRe = Bpe.PreTokenRe

  /** DuckDB frequency-selected subword vocab CTE chain (defines `v`
    * = (token, n_occ, id)) — mirrors [[Bpe.subwordVocab]] with
    * topK=200, maxPieceLen=6: enumerate substrings of the
    * distinct-word histogram, top-200 by (occurrence desc, token).
    */
  private val duckSubwordVocab = s"""
    bw AS (SELECT unnest(regexp_extract_all(text, '$bpePreTokenRe')) AS word
           FROM documents),
    bwc AS (SELECT word, count(*) AS c FROM bw GROUP BY 1),
    bpos AS (SELECT word, c, unnest(generate_series(1, length(word))) AS s
             FROM bwc),
    bsub AS (SELECT word, c, s, unnest(generate_series(1, 6)) AS l FROM bpos),
    bcand AS (SELECT substr(word, s, l) AS token, sum(c) AS n_occ
              FROM bsub WHERE s + l - 1 <= length(word) GROUP BY 1),
    v AS (SELECT token, n_occ,
                 CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INTEGER) AS id
          FROM bcand ORDER BY n_occ DESC, token LIMIT 200)"""

  /** DuckDB recursive greedy longest-match walk (defines `walk`;
    * requires `v` from [[duckSubwordVocab]] in scope and the WITH to
    * be RECURSIVE) — replays [[graft.functions.GreedyPieces]] exactly:
    * per word instance, at position p take the longest vocab token
    * prefixing the remainder (the length-guarded join per candidate
    * length makes coalesce pick longest-first), falling back to the
    * single character. Each recursion step emits one piece and
    * advances p by its length, so p strictly increases and (wi, p)
    * orders pieces exactly as the engine emits them.
    */
  private val duckPieceWalk = s"""
    dws AS (SELECT doc_id, regexp_extract_all(text, '$bpePreTokenRe') AS ws
            FROM documents),
    dw AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS word
           FROM dws WHERE len(ws) > 0),
    walk AS (
      SELECT doc_id, wi, word, 1 AS p, CAST(NULL AS VARCHAR) AS piece
      FROM dw
      UNION ALL
      SELECT s.doc_id, s.wi, s.word,
             s.p + length(coalesce(v6.token, v5.token, v4.token, v3.token,
               v2.token, v1.token, substr(s.word, s.p, 1))) AS p,
             coalesce(v6.token, v5.token, v4.token, v3.token,
               v2.token, v1.token, substr(s.word, s.p, 1)) AS piece
      FROM walk s
      LEFT JOIN v v6 ON length(v6.token) = 6 AND v6.token = substr(s.word, s.p, 6)
      LEFT JOIN v v5 ON length(v5.token) = 5 AND v5.token = substr(s.word, s.p, 5)
      LEFT JOIN v v4 ON length(v4.token) = 4 AND v4.token = substr(s.word, s.p, 4)
      LEFT JOIN v v3 ON length(v3.token) = 3 AND v3.token = substr(s.word, s.p, 3)
      LEFT JOIN v v2 ON length(v2.token) = 2 AND v2.token = substr(s.word, s.p, 2)
      LEFT JOIN v v1 ON length(v1.token) = 1 AND v1.token = substr(s.word, s.p, 1)
      WHERE s.p <= length(s.word))"""

  /** Exact-Jaccard pair SQL shared by the ngram and minhash oracles —
    * LSH with verification returns exactly the exact-Jaccard answer,
    * so both check against the same ground truth.
    */
  private def jaccardOracle(threshold: Double): String = s"""
    WITH $duckShingles,
    sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (SELECT a.doc AS da, b.doc AS db, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
              GROUP BY 1, 2)
    SELECT da, db, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter JOIN sz sa ON sa.doc = da JOIN sz sb ON sb.doc = db
    WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= $threshold"""

  /** Exact directional-containment pair SQL shared by the exact
    * baseline and the LSH-accelerated path — the LSH path verifies
    * candidates exactly, so both check against the same ground truth
    * (recall of the candidate stage is gated separately by
    * `dedup_containment_gate`).
    */
  private def containmentOracle(threshold: Double): String = s"""
    WITH $duckShingles,
    sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (SELECT a.doc AS da, b.doc AS db, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
              GROUP BY 1, 2)
    SELECT da, db,
           round(i * 1.0 / sa.n, 4) AS c_ab,
           round(i * 1.0 / sb.n, 4) AS c_ba
    FROM inter JOIN sz sa ON sa.doc = da JOIN sz sb ON sb.doc = db
    WHERE round(i * 1.0 / sa.n, 4) >= $threshold
       OR round(i * 1.0 / sb.n, 4) >= $threshold"""

  /** DuckDB simhash pipeline: 60 generated bit expressions mirroring
    * TextAnalysis.simhash (md5-derived 60-bit token hashes are the
    * cross-engine-reproducible choice).
    */
  private val simhashOracle: String = {
    val bits = 0 until TextAnalysis.SimhashBits
    val bitSums = bits.map(j =>
      s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val combine = bits.map(j =>
      s"CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS w
                 FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
    sums AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
    sh AS (SELECT doc_id, $combine AS simhash FROM sums),
    banded AS (SELECT doc_id, simhash, b.band, (simhash >> (b.band * 15)) & 32767 AS bkey
               FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band) b),
    pairs AS (SELECT DISTINCT l.doc_id AS da, r.doc_id AS db,
                     l.simhash AS ha, r.simhash AS hb
              FROM banded l JOIN banded r ON l.band = r.band AND l.bkey = r.bkey
                   AND l.doc_id < r.doc_id)
    SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(ha, hb)) <= 3"""
  }

  private val duckToks =
    "list_filter(string_split(text, ' '), x -> x <> '')"

  private def duckLex(lang: String): String =
    TextAnalysis.lexicons.find(_._1 == lang).get._2
      .map(w => s"'$w'").mkString("[", ", ", "]")

  private val duckCosine =
    "round(list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4)"

  /** DuckDB hybrid-retrieval CTE chain (defines `htop` = the
    * RRF-fused rank list over brute cosine top-10 ⊕ BM25 top-10) —
    * shared by `hybrid_search` (top-5 projection) and `eval_hybrid`
    * (rank metrics over the same top-5).
    */
  private lazy val duckHybridCtes = s"""
        t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE doc_id >= 10),
        tok AS (SELECT doc_id, unnest(toks) AS token, len(toks) AS dl FROM t),
        tf AS (SELECT doc_id, token, count(*) AS c, any_value(dl) AS dl
               FROM tok GROUP BY doc_id, token),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        st AS (SELECT count(DISTINCT doc_id) AS nd, sum(len(toks)) AS suml FROM t),
        bw AS (SELECT doc_id, token,
                      round(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) *
                            (c * (1.2 + 1)) /
                            (c + 1.2 * ((1 - 0.75) + 0.75 * (dl * 1.0 * nd / suml))), 4)
                        AS w
               FROM tf JOIN dfreq USING (token) CROSS JOIN st),
        qt AS (SELECT doc_id AS qid, unnest(list_distinct($duckToks)) AS token
               FROM documents WHERE doc_id < 10),
        sp AS (SELECT qid, doc_id AS nid, round(sum(w), 4) AS score
               FROM bw JOIN qt USING (token) GROUP BY qid, doc_id),
        sptop AS (SELECT qid, nid, sr FROM
                    (SELECT qid, nid,
                            row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS sr
                     FROM sp) WHERE sr <= 10),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        cc AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
        den AS (SELECT b.vec_id AS qid, a.vec_id AS nid,
                       row_number() OVER (PARTITION BY b.vec_id
                         ORDER BY $duckCosine DESC, a.vec_id) AS dr
                FROM cc a CROSS JOIN q b),
        dtop AS (SELECT qid, nid, dr FROM den WHERE dr <= 10),
        fused AS (SELECT coalesce(d.qid, s.qid) AS qid,
                         coalesce(d.nid, s.nid) AS nid,
                         coalesce(1.0 / (60 + d.dr), 0) +
                         coalesce(1.0 / (60 + s.sr), 0) AS rrf
                  FROM dtop d FULL OUTER JOIN sptop s
                    ON d.qid = s.qid AND d.nid = s.nid),
        htop AS (SELECT qid, nid, rrf,
                        row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rank
                 FROM fused)"""

  /** The engine-side hybrid top-5 (dense brute cosine ⊕ sparse BM25,
    * RRF-fused) — the Spark twin of [[duckHybridCtes]].
    */
  private def hybridTop5(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val e = Tables.load(s, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(
      corpus = e.filter(col("vec_id") >= 10),
      queries = e.filter(col("vec_id") < 10),
      idCol = "vec_id", vecCol = "embedding", k = 10)
    val sparse = TextAnalysis.bm25Search(
      corpus = docs.filter(col("doc_id") >= 10),
      queries = docs.filter(col("doc_id") < 10),
      idCol = "doc_id", textCol = "text", k = 10)
    Similarity.rrfFuse(dense, sparse, k = 5)
  }

  /** Driver-visible recall gate for an approximate ANN variant: one
    * Spark job computes recall@5 = |approx ∩ brute| / |brute| (both
    * sides deterministic — seeded planes/centroids, id tie-breaks),
    * and emits a single row whose `recall_ok` the literal oracle pins
    * to 1. A regression in the approximate path craters recall to
    * ~0.2 and flips the hash — visible in CORRECTNESS instead of only
    * in a spec. Thresholds sit under the measured deterministic
    * values (sf0.01: lsh 0.78, ivf 0.74, sq 0.96) with margin, using
    * the same knobs SimilaritySpec tunes for this near-random corpus.
    */
  private def annRecall(variant: String, minRecall: Double)(
      approx: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): QueryDef =
    QueryDef(
      doc = s"recall@5 of the $variant ANN path vs brute force (≥$minRecall ⇒ recall_ok=1) — driver-visible approximate-path regression gate",
      oracle = s"SELECT '$variant' AS variant, CAST(5 AS INTEGER) AS k, CAST(1 AS INTEGER) AS recall_ok") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      // both sides are |q|×k rows; localCheckpoint truncates their
      // corpus-scan lineages so the recall join/agg cannot re-execute
      // either top-k pipeline a second time (measured ~2s of the
      // recall queries' wall at sf0.1)
      // brute baseline ∥ approximate path (Par: guide §2.6 overlap —
      // the two legs are independent until the recall join)
      val (brute, hits) = Par.two(
        Similarity.bruteForceTopK(corpus, queries,
            "vec_id", "embedding", 5)
          .select(col("qid"), col("nid")).localCheckpoint(true),
        approx(corpus, queries)
          .select(col("qid"), col("nid"), lit(1).as("hit"))
          .localCheckpoint(true))
      brute.join(hits, Seq("qid", "nid"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
        .select(lit(variant).as("variant"), lit(5).cast("int").as("k"),
          (col("recall") >= minRecall).cast("int").as("recall_ok"))
    }

  val defs: Map[String, QueryDef] = Map(

    "dedup_exact" -> QueryDef(
      doc = "exact dedup: canonical id per identical-content group (hash window, one shuffle)",
      oracle = """
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
               doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
        FROM documents""") { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    "dedup_ngram_jaccard" -> QueryDef(
      doc = "exact 3-gram Jaccard near-dup pairs ≥0.5 (shared-shingle candidates — the exact baseline)",
      oracle = jaccardOracle(0.5)) { (s, dir) =>
      Dedup.ngramJaccard(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 3, threshold = 0.5)
    },

    "linkage_blocked" -> QueryDef(
      doc = "entity resolution: records → distinct-name dictionary (+support) → blocked fuzzy pairs, Levenshtein ≤3 within the UNION of two blocking keys — first token AND first-token-minus-first-char (the skip-char key that recovers char-1-typo pairs the first key can never see), pairs deduped across keys (length-delta prefilter inside the join)",
      oracle = """
        WITH d AS (SELECT p_name AS name, count(*) AS n_records FROM part GROUP BY 1),
        k AS (SELECT name, n_records, '0:' || split_part(name, ' ', 1) AS block FROM d
              UNION ALL
              SELECT name, n_records, '1:' || substr(split_part(name, ' ', 1), 2) AS block FROM d)
        SELECT DISTINCT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
               a.n_records AS n_a, b.n_records AS n_b
        FROM k a JOIN k b
          ON a.block = b.block AND a.name < b.name
         AND abs(length(a.name) - length(b.name)) <= 3
         AND levenshtein(a.name, b.name) <= 3""") { (s, dir) =>
      graft.operators.Linkage.linkRecords(
        Tables.load(s, dir, "part"), "p_name", maxDist = 3)
    },

    "linkage_clusters" -> QueryDef(
      doc = "entity resolution end-to-end: fuzzy name pairs → connected components → canonical entity (min name) per cluster, with record support — transitive closure via the type-agnostic CC engine",
      oracle = """
        WITH RECURSIVE
        dict AS (SELECT p_name AS name, count(*) AS n_records FROM part GROUP BY 1),
        k AS (SELECT name, n_records, '0:' || split_part(name, ' ', 1) AS block FROM dict
              UNION ALL
              SELECT name, n_records, '1:' || substr(split_part(name, ' ', 1), 2) AS block FROM dict),
        pairs AS (SELECT DISTINCT a.name AS na, b.name AS nb
                  FROM k a JOIN k b
                    ON a.block = b.block AND a.name < b.name
                   AND abs(length(a.name) - length(b.name)) <= 3
                   AND levenshtein(a.name, b.name) <= 3),
        edges AS (SELECT na AS s, nb AS dd FROM pairs
                  UNION SELECT nb, na FROM pairs),
        cc(id, label) AS (
          SELECT DISTINCT s, s FROM edges
          UNION
          SELECT e.s, c.label FROM edges e JOIN cc c ON c.id = e.dd),
        minlab AS (SELECT id, min(label) AS lab FROM cc GROUP BY id)
        SELECT name,
               coalesce(m.lab, name) AS entity,
               name = coalesce(m.lab, name) AS is_canonical,
               n_records
        FROM dict LEFT JOIN minlab m ON m.id = dict.name""") { (s, dir) =>
      graft.operators.Linkage.resolveEntities(
        Tables.load(s, dir, "part"), "p_name", maxDist = 3)
    },

    "dedup_containment" -> QueryDef(
      doc = "directional shingle containment ≥0.6 (|A∩B|/|A| and /|B|) — catches short-doc-quoted-in-long-doc near-dups Jaccard's symmetric denominator dilutes; EXACT BASELINE (quadratic shared-shingle join, weak-by-design) — dedup_containment_lsh is the scale path",
      oracle = containmentOracle(0.6)) { (s, dir) =>
      Dedup.shingleContainment(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 3, threshold = 0.6)
    },

    "dedup_minhash_lsh" -> QueryDef(
      doc = "MinHash(128)+LSH(32 bands) candidates, exact-Jaccard verified ≥0.7 — scale path, same ground truth as the exact baseline",
      oracle = jaccardOracle(0.7)) { (s, dir) =>
      Dedup.minHashLsh(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 3, threshold = 0.7)
    },

    "dedup_simhash" -> QueryDef(
      doc = "SimHash(60-bit) pairs within Hamming≤3 via pigeonhole banding (exact recall, no LSH miss)",
      oracle = simhashOracle) { (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3)
    },

    "dedup_clusters" -> QueryDef(
      doc = "near-dup clustering: LSH pairs → connected components → canonical per cluster (iterative min-label propagation; oracle = recursive CTE closure)",
      oracle = s"""
        WITH RECURSIVE
        pairs AS (${jaccardOracle(0.7)}),
        edges AS (SELECT da AS s, db AS d FROM pairs
                  UNION SELECT db, da FROM pairs),
        cc(id, label) AS (
          SELECT DISTINCT s, s FROM edges
          UNION
          SELECT e.s, c.label FROM edges e JOIN cc c ON c.id = e.d),
        minlab AS (SELECT id, min(label) AS lab FROM cc GROUP BY id)
        SELECT doc_id,
               coalesce(m.lab, doc_id) AS cluster_id,
               doc_id <> coalesce(m.lab, doc_id) AS is_duplicate
        FROM documents LEFT JOIN minlab m ON m.id = doc_id""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      DedupCluster.minHashClusters(docs, "doc_id", "text", k = 3, threshold = 0.7)
        .select(col("doc_id"), col("cluster_id"),
          (!col("is_canonical")).as("is_duplicate"))
    },

    "dedup_embedding_cosine" -> QueryDef(
      doc = "embedding near-dup pairs, exact all-pairs cosine ≥0.4 — EXACT BASELINE (quadratic NLJ, weak-by-design); dedup_semantic_lsh is the bucketed scale path, gated by dedup_semantic_gate",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS va, b.vec_id AS vb, $duckCosine AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE $duckCosine >= 0.4""") { (s, dir) =>
      Dedup.embeddingCosinePairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4)
    },

    "ann_topk_brute" -> QueryDef(
      doc = "exact cosine top-5 neighbors for query vectors (broadcast queries, no corpus shuffle)",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
        scored AS (SELECT b.vec_id AS qid, a.vec_id AS nid, $duckCosine AS cos
                   FROM c a CROSS JOIN q b)
        SELECT qid, nid, rank, cos FROM (
          SELECT qid, nid, cos,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
          FROM scored) WHERE rank <= 5""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5)
    },

    "eval_retrieval" -> QueryDef(
      doc = "retrieval metrics closing the serving loop: per-query RR / recall@10 / nDCG@10 of exact cosine top-10 vs same-label relevance judgments",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        q AS (SELECT vec_id, v, label FROM e WHERE vec_id < 10),
        c AS (SELECT vec_id, v, label FROM e WHERE vec_id >= 10),
        scored AS (SELECT b.vec_id AS qid, a.vec_id AS nid, $duckCosine AS cos
                   FROM c a CROSS JOIN q b),
        topk AS (SELECT qid, nid, rank FROM (
                   SELECT qid, nid,
                          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
                   FROM scored) WHERE rank <= 10),
        rel AS (SELECT q.vec_id AS qid, c.vec_id AS nid FROM q JOIN c ON q.label = c.label),
        nrel AS (SELECT qid, count(*) AS n_rel FROM rel GROUP BY 1),
        hits AS (SELECT t.qid, min(t.rank) AS first_hit, count(*) AS n_hits,
                        sum(1.0 / log2(t.rank + 1)) AS dcg
                 FROM topk t JOIN rel r ON t.qid = r.qid AND t.nid = r.nid
                 GROUP BY 1)
        SELECT n.qid,
               round(coalesce(1.0 / first_hit, 0), 4) AS rr,
               round(coalesce(n_hits * 1.0 / n_rel, 0), 4) AS recall_at_k,
               round(coalesce(dcg, 0) / list_sum(list_transform(
                 generate_series(1, CAST(least(n_rel, 10) AS INTEGER)),
                 i -> 1.0 / log2(i + 1))), 4) AS ndcg_at_k
        FROM nrel n LEFT JOIN hits h ON n.qid = h.qid""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.filter(col("vec_id") >= 10)
      val res = Similarity.bruteForceTopK(
        corpus = c, queries = q, idCol = "vec_id", vecCol = "embedding", k = 10)
      val qrels = q.select(col("vec_id").as("qid"), col("label"))
        .join(c.select(col("vec_id").as("nid"), col("label")), Seq("label"))
        .select("qid", "nid")
      graft.operators.Eval.rankMetrics(res, qrels, k = 10)
    },

    "eval_retrieval_graded" -> QueryDef(
      doc = "graded-relevance nDCG@10 (TREC-style): judgments carry gain 2 for same-label corpus docs and 1 for same-coarse-class (label mod 5), so highly-relevant hits at the top are worth more than partial matches — the metric binary recall can't see; same qid-keyed shape as eval_retrieval",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        q AS (SELECT vec_id, v, label FROM e WHERE vec_id < 10),
        c AS (SELECT vec_id, v, label FROM e WHERE vec_id >= 10),
        scored AS (SELECT b.vec_id AS qid, a.vec_id AS nid, $duckCosine AS cos
                   FROM c a CROSS JOIN q b),
        topk AS (SELECT qid, nid, rank FROM (
                   SELECT qid, nid,
                          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
                   FROM scored) WHERE rank <= 10),
        rel AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                       CASE WHEN q.label = c.label THEN 2 ELSE 1 END AS gain
                FROM q JOIN c ON (q.label % 5) = (c.label % 5)),
        nrel AS (SELECT qid, count(*) AS n_rel FROM rel GROUP BY 1),
        ideal AS (SELECT qid, sum(gain * 1.0 / log2(rn + 1)) AS idcg FROM (
                    SELECT qid, gain,
                           row_number() OVER (PARTITION BY qid ORDER BY gain DESC, nid) AS rn
                    FROM rel) WHERE rn <= 10 GROUP BY 1),
        hits AS (SELECT t.qid, sum(r.gain * 1.0 / log2(t.rank + 1)) AS dcg
                 FROM topk t JOIN rel r ON t.qid = r.qid AND t.nid = r.nid
                 GROUP BY 1)
        SELECT n.qid,
               round(coalesce(h.dcg, 0), 4) AS dcg_at_k,
               round(coalesce(h.dcg, 0) / i.idcg, 4) AS ndcg_at_k,
               CAST(n.n_rel AS BIGINT) AS n_rel
        FROM nrel n JOIN ideal i ON n.qid = i.qid
        LEFT JOIN hits h ON n.qid = h.qid""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.filter(col("vec_id") >= 10)
      val res = Similarity.bruteForceTopK(
        corpus = c, queries = q, idCol = "vec_id", vecCol = "embedding", k = 10)
      val qrels = q.select(col("vec_id").as("qid"), col("label").as("ql"))
        .join(c.select(col("vec_id").as("nid"), col("label").as("cl")),
          col("ql") % 5 === col("cl") % 5)
        .select(col("qid"), col("nid"),
          when(col("ql") === col("cl"), 2).otherwise(1).as("gain"))
      graft.operators.Eval.rankMetricsGraded(res, qrels, k = 10)
    },

    "ann_topk_lsh" -> QueryDef(
      doc = "LSH-bucketed ANN top-5 (8 tables × 8-bit hyperplane sign buckets, exact cosine rerank of bucket-mates). HASH-oracled (r13, formerly rows-only): the hyperplanes are FIXED-seed (42+t) driver constants, so they inline as literals and DuckDB replays the sign bits (strict s > 0, bit b = 1<<b), the any-table bucket match, and the ann_topk_brute cosine/rank pipeline; recall vs brute additionally gated in ann_recall_lsh",
      oracle = {
        val planeRows = (0 until 8).flatMap { t =>
          val pls = Similarity.hyperplanes(42 + t, 8, 64)
          (0 until 8).map(b =>
            s"($t, $b, [${pls(b).map(fmtD).mkString(", ")}]::DOUBLE[])")
        }.mkString(",\n          ")
        s"""
        WITH pl(tbl, bit, p) AS (VALUES $planeRows),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        buck AS (SELECT e.vec_id, pl.tbl,
                        CAST(sum(CASE WHEN list_dot_product(e.v, pl.p) > 0
                            THEN (CAST(1 AS BIGINT) << pl.bit)
                            ELSE 0 END) AS BIGINT) AS bucket
                 FROM e CROSS JOIN pl GROUP BY 1, 2),
        cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
                 FROM buck q JOIN buck c
                   ON q.tbl = c.tbl AND q.bucket = c.bucket
                 WHERE q.vec_id < 10 AND c.vec_id >= 10),
        scored AS (SELECT cand.qid, cand.nid, $duckCosine AS cos
                   FROM cand JOIN e a ON a.vec_id = cand.nid
                   JOIN e b ON b.vec_id = cand.qid)
        SELECT qid, nid, rank, cos FROM (
          SELECT qid, nid, cos,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
          FROM scored) WHERE rank <= 5"""
      }) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.lshTopK(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5)
    },

    "ann_topk_ivf" -> QueryDef.dynamicOracle(
      doc = "IVF ANN top-5 (16-centroid spherical k-means, 4-probe). HASH-oracled (r13, formerly rows-only) by the dedup_semdedup technique: the fitted centroids inline as literals (memoized — query and oracle share one fit) and DuckDB replays corpus assignment (argmax dot, first-max tie), the query side's 4 probe cells (dot desc, cid asc — the engine's (-d, cid) struct sort), the probed-cell cosine scoring, and the rank tie-order; recall vs brute additionally gated in ann_recall_ivf") {
      (s, dir) =>
        val centRows = centroidRows(annIvfCentroidsFor(s, dir))
        s"""
        WITH cent(cid, c) AS (VALUES $centRows),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nrm AS (SELECT vec_id, v, list_dot_product(v, v) AS s2 FROM e),
        u AS (SELECT vec_id, list_transform(v, x -> x *
                (CASE WHEN s2 = 0 THEN 1.0 ELSE 1.0 / sqrt(s2) END)) AS cv
              FROM nrm),
        cu AS (SELECT vec_id AS nid, cv FROM u WHERE vec_id >= 10),
        qu AS (SELECT vec_id AS qid, cv AS qv FROM u WHERE vec_id < 10),
        cd AS (SELECT cu.nid, c.cid, list_dot_product(cu.cv, c.c) AS d
               FROM cu CROSS JOIN cent c),
        casn AS (SELECT nid, cid FROM (
                   SELECT nid, cid, row_number() OVER (PARTITION BY nid
                     ORDER BY d DESC, cid) AS rn FROM cd) WHERE rn = 1),
        qd AS (SELECT qu.qid, c.cid, list_dot_product(qu.qv, c.c) AS d
               FROM qu CROSS JOIN cent c),
        qp AS (SELECT qid, cid FROM (
                 SELECT qid, cid, row_number() OVER (PARTITION BY qid
                   ORDER BY d DESC, cid) AS rn FROM qd) WHERE rn <= 4),
        scored AS (SELECT p.qid, a.nid,
                          round(list_dot_product(cu.cv, qu.qv), 4) AS cos
                   FROM casn a JOIN qp p ON a.cid = p.cid
                   JOIN cu ON cu.nid = a.nid
                   JOIN qu ON qu.qid = p.qid)
        SELECT qid, nid, rank, cos FROM (
          SELECT qid, nid, cos,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
          FROM scored) WHERE rank <= 5"""
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = annIvfCentroidsFor(s, dir)
      Similarity.ivfTopKFromIndex(
        Similarity.ivfAssign(e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", cents),
        cents, queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5)
    },

    "ann_topk_pq" -> QueryDef.noOracle(
      doc = "product-quantized ANN top-5 (16 subspaces × 16-code books, ADC table-lookup scoring + exact rerank of a 5× shortlist) — approximation → rows-only; recall gated in SimilaritySpec and ann_recall_pq") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.pqTopK(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5, m = 16, ksub = 16)
    },

    "ann_topk_ivfpq" -> QueryDef.noOracle(
      doc = "IVF-PQ ANN top-5 (16 coarse cells ×8 probes, 16×16 residual codebooks, ADC + exact rerank of a 5× shortlist) — the composed billion-scale serving structure; approximation → rows-only; recall gated in SimilaritySpec and ann_recall_ivfpq") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfPqTopK(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5,
        nCentroids = 16, nProbe = 8, m = 16, ksub = 16)
    },

    "embedding_pca" -> QueryDef.dynamicOracle(
      doc = "distributed PCA: rotate embeddings onto their top-16 principal axes (one-pass Gramian aggregation + driver d×d Jacobi eigensolve + codegen'd affine projection, corpus never shuffles), posexploded to scalar (vec_id, component, value) rows at 4dp. The eigensolve isn't SQL-expressible, but the fitted model IS model-sized — the oracle inlines the axes/mean as literal tables (memoized, so query and oracle replay the identical fit) and DuckDB replays the affine projection over the embeddings table; 4dp absorbs summation-order ulp, and the oracle adds `+ 0.0` so DuckDB's sign-preserving round can't emit -0.0 where Spark's BigDecimal HALF_UP normalizes to +0.0. Model identities additionally hash-gated in pca_gate") {
      (s, dir) =>
        val m = pcaModelFor(s, dir)
        val d = m.dim
        val mean = if (m.mean.isEmpty) new Array[Double](d) else m.mean
        val muRows = mean.zipWithIndex
          .map { case (v, i) => s"($i, ${fmtD(v)})" }.mkString(", ")
        val axRows = m.axes.zipWithIndex.flatMap { case (row, c) =>
          row.zipWithIndex.map { case (w, i) => s"($c, $i, ${fmtD(w)})" }
        }.mkString(", ")
        s"""
        WITH mu(dim, m) AS (VALUES $muRows),
        ax(component, dim, w) AS (VALUES $axRows),
        e AS (SELECT vec_id, d.dim,
                     CAST(embedding[d.dim + 1] AS DOUBLE) AS x
              FROM embeddings
              CROSS JOIN (SELECT unnest(generate_series(0, ${d - 1})) AS dim) d)
        SELECT e.vec_id, CAST(a.component AS INTEGER) AS component,
               round(sum(a.w * (e.x - m.m)), 4) + 0.0 AS value
        FROM e JOIN mu m USING (dim) JOIN ax a USING (dim)
        GROUP BY 1, 2"""
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      graft.operators.Pca.project(e, "vec_id", "embedding",
          pcaModelFor(s, dir))
        .select(col("vec_id"),
          posexplode(col("pca")).as(Seq("component", "value")))
        .withColumn("value", round(col("value"), 4))
    },

    "pca_gate" -> QueryDef(
      doc = "PCA internal-consistency gate (the ann_recall_* pattern): axes orthonormal, eigenvalues descending, explained ratio in (0,1], corpus-avg reconstruction error == residual eigen mass (1e-6 rel), per-component projection variance == eigenvalue (1e-6 rel) — the identities that fail if fit, project, or reconstruct drift",
      oracle = "SELECT CAST(1 AS INTEGER) AS orthonormal_ok, CAST(1 AS INTEGER) AS eigvals_ok, CAST(1 AS INTEGER) AS explained_ok, CAST(1 AS INTEGER) AS recon_ok, CAST(1 AS INTEGER) AS projvar_ok") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.Pca.fit(e, "embedding", k = 16)
      graft.operators.Pca.consistencyGate(e, "embedding", model)
    },

    "pca_delta_gate" -> QueryDef(
      doc = "incremental-PCA gate: the model refit from persisted-base + delta moment statistics (additive sufficient stats — the historical corpus is never re-scanned) must match the full-corpus model — eigenvalues to 1e-9 rel, every axis aligned (dot > 1−1e-9), total variance to 1e-9",
      oracle = "SELECT CAST(1 AS INTEGER) AS eig_ok, CAST(1 AS INTEGER) AS axes_ok, CAST(1 AS INTEGER) AS var_ok") { (s, dir) =>
      import graft.operators.Pca
      val e = Tables.load(s, dir, "embeddings")
      val merged = Pca.fitFromStats(
        Pca.momentStats(e.filter(col("vec_id") % 5 =!= 0), "embedding")
          .unionByName(
            Pca.momentStats(e.filter(col("vec_id") % 5 === 0), "embedding")),
        k = 16)
      val full = Pca.fit(e, "embedding", k = 16)
      val eigOk = merged.eigenvalues.zip(full.eigenvalues).forall {
        case (a, b) => math.abs(a - b) < 1e-9 * math.max(1.0, math.abs(b))
      }
      val axesOk = merged.axes.zip(full.axes).forall { case (ma, fa) =>
        ma.zip(fa).map { case (x, y) => x * y }.sum > 1 - 1e-9
      }
      val varOk =
        math.abs(merged.totalVariance - full.totalVariance) < 1e-9
      import s.implicits._
      Seq((eigOk, axesOk, varOk)).toDF("e", "a", "v")
        .select(col("e").cast("int").as("eig_ok"),
          col("a").cast("int").as("axes_ok"),
          col("v").cast("int").as("var_ok"))
    },

    "ann_topk_pca" -> QueryDef.dynamicOracle(
      doc = "PCA-reduced ANN top-5 (uncentered 64→32 rotation — the FAISS PCAMatrix pre-transform — reduced-dot shortlist ×5, exact rerank; the isotropic fixture is PCA's worst case, real embeddings concentrate far more variance). HASH-oracled (r13, formerly rows-only) by the embedding_pca technique: the eigensolve isn't SQL-expressible but the fitted 32 axes are model-sized — they inline as literal DOUBLE[] rows (memoized, query and oracle share one fit) and DuckDB replays the rotation (per-axis sequential dots via an ORDER BY i list aggregate, matching AffineTransform's component order), the ×5 reduced-dot shortlist with rank tie-order, and the exact unit-vector rerank; recall additionally gated in ann_recall_pca") {
      (s, dir) =>
        val m = annPcaModelFor(s, dir)
        val axisRows = m.axes.zipWithIndex.map { case (a, i) =>
          s"($i, [${a.map(fmtD).mkString(", ")}]::DOUBLE[])"
        }.mkString(",\n          ")
        s"""
        WITH ax(i, a) AS (VALUES $axisRows),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nrm AS (SELECT vec_id, v, list_dot_product(v, v) AS s2 FROM e),
        u AS (SELECT vec_id, list_transform(v, x -> x *
                (CASE WHEN s2 = 0 THEN 1.0 ELSE 1.0 / sqrt(s2) END)) AS cv
              FROM nrm),
        red AS (SELECT u.vec_id,
                       list(list_dot_product(u.cv, ax.a) ORDER BY ax.i) AS rv
                FROM u CROSS JOIN ax GROUP BY u.vec_id),
        scored AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                          round(list_dot_product(c.rv, q.rv), 4) AS rcos
                   FROM red c JOIN red q
                     ON c.vec_id >= 10 AND q.vec_id < 10),
        short AS (SELECT qid, nid FROM (
                    SELECT qid, nid, row_number() OVER (PARTITION BY qid
                      ORDER BY rcos DESC, nid) AS rn FROM scored)
                  WHERE rn <= 25),
        ex AS (SELECT sh.qid, sh.nid,
                      round(list_dot_product(cu.cv, qu.cv), 4) AS cos
               FROM short sh JOIN u cu ON cu.vec_id = sh.nid
               JOIN u qu ON qu.vec_id = sh.qid)
        SELECT qid, nid, rank, cos FROM (
          SELECT qid, nid, cos,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS INTEGER) AS rank
          FROM ex) WHERE rank <= 5"""
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val model = annPcaModelFor(s, dir)
      Similarity.pcaTopKFromIndex(
        Similarity.pcaIndex(corpus, "vec_id", "embedding", model), model,
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5,
        oversample = 5, rerankWith = Some(corpus))
    },

    "ann_recall_pca" -> annRecall("pca", 0.6) { (c, q) =>
      Similarity.pcaTopK(c, q, "vec_id", "embedding", 5, nComponents = 32)
    },

    "ann_topk_opq" -> QueryDef.noOracle(
      doc = "OPQ-style rotated PQ top-5 (full-rank uncentered PCA rotation with eigenvalue-allocation-balanced subspaces — the parametric OPQ recipe — then 16×16 ADC + exact rerank): each codebook quantizes a balanced spectrum share; rotated cosines equal originals exactly — approximation → rows-only; recall gated in ann_recall_opq") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.opqTopK(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5, m = 16, ksub = 16)
    },

    "ann_recall_opq" -> annRecall("opq", 0.6) { (c, q) =>
      Similarity.opqTopK(c, q, "vec_id", "embedding", 5, m = 16, ksub = 16)
    },

    "ann_topk_sq" -> QueryDef(
      doc = "int8 scalar-quantized exact-scan top-5 (8× smaller corpus index, codegen'd quantize + cosine over codes). HASH-oracled (r13, formerly rows-only): the quantization is pure IEEE arithmetic DuckDB replays bit-for-bit — code_i = floor(x_i·(127/√Σx²) + 0.5) is exactly Java's Math.round contract, the codes are exact small integers as doubles, and the cosine+round(…,4)+tie-order pipeline over them is the already-hash-green ann_topk_brute technique; recall vs brute force additionally gated in ann_recall_sq",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        cr AS (SELECT vec_id, v, list_dot_product(v, v) AS s2
               FROM e WHERE vec_id >= 10),
        c AS (SELECT vec_id,
                     list_transform(v, x -> floor(x *
                       (CASE WHEN s2 = 0 THEN 0 ELSE 127.0 / sqrt(s2) END)
                       + 0.5)) AS v
              FROM cr),
        scored AS (SELECT b.vec_id AS qid, a.vec_id AS nid, $duckCosine AS cos
                   FROM c a CROSS JOIN q b)
        SELECT qid, nid, rank, cos FROM (
          SELECT qid, nid, cos,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
          FROM scored) WHERE rank <= 5""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.sqTopK(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5)
    },

    "hybrid_search" -> QueryDef(
      doc = "hybrid dense+sparse retrieval: brute cosine top-10 and BM25 top-10 fused by reciprocal rank (c=60) to a top-5 — both lists batch-sized, integer-rank fusion arithmetic bit-reproducible",
      oracle = s"""
        WITH $duckHybridCtes
        SELECT qid, nid, CAST(rank AS INTEGER) AS rank, round(rrf, 6) AS rrf
        FROM htop WHERE rank <= 5""") { (s, dir) =>
      hybridTop5(s, dir)
    },

    "eval_hybrid" -> QueryDef(
      doc = "rank metrics over the FUSED serving path: RR / recall@5 / nDCG@5 of the hybrid (RRF) top-5 vs same-label relevance — the eval loop composed onto a composed retriever",
      oracle = s"""
        WITH $duckHybridCtes,
        topk AS (SELECT qid, nid, rank FROM htop WHERE rank <= 5),
        rel AS (SELECT q2.vec_id AS qid, c2.vec_id AS nid
                FROM embeddings q2 JOIN embeddings c2 ON q2.label = c2.label
                WHERE q2.vec_id < 10 AND c2.vec_id >= 10),
        nrel AS (SELECT qid, count(*) AS n_rel FROM rel GROUP BY 1),
        hits AS (SELECT t2.qid, min(t2.rank) AS first_hit, count(*) AS n_hits,
                        sum(1.0 / log2(t2.rank + 1)) AS dcg
                 FROM topk t2 JOIN rel r ON t2.qid = r.qid AND t2.nid = r.nid
                 GROUP BY 1)
        SELECT n.qid,
               round(coalesce(1.0 / first_hit, 0), 4) AS rr,
               round(coalesce(n_hits * 1.0 / n_rel, 0), 4) AS recall_at_k,
               round(coalesce(dcg, 0) / list_sum(list_transform(
                 generate_series(1, CAST(least(n_rel, 5) AS INTEGER)),
                 i -> 1.0 / log2(i + 1))), 4) AS ndcg_at_k
        FROM nrel n LEFT JOIN hits h ON n.qid = h.qid""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val qrels = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label"))
        .join(e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("nid"), col("label")), Seq("label"))
        .select("qid", "nid")
      graft.operators.Eval.rankMetrics(hybridTop5(s, dir), qrels, k = 5)
    },

    "corpus_source_mix" -> QueryDef(
      doc = "per-source curation rollup: doc/token volume, quality rate, exact-dup rate, language spread — the keep/reweight decision table a corpus curator reads",
      oracle = s"""
        WITH t AS (SELECT doc_id, source, lang, text, $duckToks AS toks FROM documents),
        f AS (SELECT doc_id, source, lang,
                     len(toks) AS wc,
                     (len(toks) >= 5 AND length(text) >= 40
                      AND CAST(len(list_filter(toks, w -> list_contains(${duckLex("en")}, w))) AS DOUBLE) / len(toks) >= 0.01) AS is_q,
                     doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
              FROM t)
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(wc) AS BIGINT) AS total_tokens,
               round(avg(CASE WHEN is_q THEN 1.0 ELSE 0.0 END), 4) AS quality_rate,
               round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 4) AS dup_rate,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM f GROUP BY source""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      val q = TextAnalysis.qualityFeatures(d)
        .select(col("doc_id"), col("word_count"), col("is_quality"))
      d.select(col("doc_id"), col("source"), col("lang"),
          (col("doc_id") =!= min(col("doc_id")).over(w)).as("is_dup"))
        .join(q, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("word_count")).cast("long").as("total_tokens"),
          round(avg(when(col("is_quality"), 1.0).otherwise(0.0)), 4)
            .as("quality_rate"),
          round(avg(when(col("is_dup"), 1.0).otherwise(0.0)), 4)
            .as("dup_rate"),
          countDistinct(col("lang")).as("n_langs"))
    },

    "dedup_semantic_clusters" -> QueryDef(
      doc = "semantic (embedding-space) dedup clusters: cosine pairs ≥0.4 → connected components → canonical per cluster (same CC engine as the text path, recursive-CTE oracle)",
      oracle = s"""
        WITH RECURSIVE
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
                  FROM e a JOIN e b ON a.vec_id < b.vec_id
                  WHERE $duckCosine >= 0.4),
        edges AS (SELECT va AS s, vb AS d FROM pairs
                  UNION SELECT vb, va FROM pairs),
        cc(id, label) AS (
          SELECT DISTINCT s, s FROM edges
          UNION
          SELECT e2.s, c.label FROM edges e2 JOIN cc c ON c.id = e2.d),
        minlab AS (SELECT id, min(label) AS lab FROM cc GROUP BY id)
        SELECT vec_id,
               coalesce(m.lab, vec_id) AS cluster_id,
               vec_id <> coalesce(m.lab, vec_id) AS is_duplicate
        FROM embeddings LEFT JOIN minlab m ON m.id = vec_id""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val pairs = Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
        threshold = 0.4)
      DedupCluster.connectedComponents(e.select("vec_id"), pairs,
          idCol = "vec_id", aCol = "va", bCol = "vb")
        .select(col("vec_id"), col("cluster_id"),
          (!col("is_canonical")).as("is_duplicate"))
    },

    "dedup_semantic_lsh" -> QueryDef.dynamicOracle(
      doc = "approximate embedding-cosine pairs ≥0.4 — sign-LSH bucket candidates under the corpus-derived (bits, tables) plan (Dedup.signLshPlan: 4×30 at sf0.01, the persisted ANN index layout) + exact verification of candidate pairs. HASH-oracled (r13, formerly rows-only) by the ann_topk_lsh technique: the plan is a closed-form function of (count, threshold) and the hyperplanes are FIXED-seed (42+t) driver constants, so both inline as literals and DuckDB replays the sign buckets (strict s > 0, bit b = 1<<b), the any-table candidate join, and the exact-baseline cosine verification; candidate recall vs the exact pair set additionally gated in dedup_semantic_gate") {
      (s, dir) =>
        val n = Tables.count(s, dir, "embeddings")
        val (bits, tabs) = Dedup.signLshPlan(n, 0.4)
        val planeRows = (0 until tabs).flatMap { t =>
          val pls = Similarity.hyperplanes(42 + t, bits, 64)
          (0 until bits).map(b =>
            s"($t, $b, [${pls(b).map(fmtD).mkString(", ")}]::DOUBLE[])")
        }.mkString(",\n          ")
        s"""
        WITH pl(tbl, bit, p) AS (VALUES $planeRows),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        buck AS (SELECT e.vec_id, pl.tbl,
                        CAST(sum(CASE WHEN list_dot_product(e.v, pl.p) > 0
                            THEN (CAST(1 AS BIGINT) << pl.bit)
                            ELSE 0 END) AS BIGINT) AS bucket
                 FROM e CROSS JOIN pl GROUP BY 1, 2),
        cand AS (SELECT DISTINCT ba.vec_id AS va, bb.vec_id AS vb
                 FROM buck ba JOIN buck bb
                   ON ba.tbl = bb.tbl AND ba.bucket = bb.bucket
                 WHERE ba.vec_id < bb.vec_id)
        SELECT cand.va, cand.vb, $duckCosine AS cos
        FROM cand JOIN e a ON a.vec_id = cand.va
        JOIN e b ON b.vec_id = cand.vb
        WHERE $duckCosine >= 0.4"""
    } { (s, dir) =>
      // explicit (bits, tables) = signLshPlan over the memoized fixture
      // count — identical to the AUTO plan, minus its per-run count job
      val (b, t) = Dedup.signLshPlan(Tables.count(s, dir, "embeddings"), 0.4)
      Dedup.embeddingCosinePairsLsh(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4, bitsPerTable = b, tables = t)
    },

    "dedup_semantic_gate" -> QueryDef(
      doc = "agreement gate: recall of the LSH semantic-pair set vs exact all-pairs cosine (≥0.9 ⇒ semantic_ok=1) — the driver-visible regression check for the approximate semantic-dedup path",
      oracle = "SELECT CAST(1 AS INTEGER) AS semantic_ok") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val (b, t) = Dedup.signLshPlan(Tables.count(s, dir, "embeddings"), 0.4)
      // exact baseline ∥ approximate path (Par: guide §2.6 overlap)
      val (exact, lsh) = Par.two(
        Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
            threshold = 0.4)
          .select(col("va"), col("vb")).localCheckpoint(true),
        Dedup.embeddingCosinePairsLsh(e, "vec_id", "embedding",
            threshold = 0.4, bitsPerTable = b, tables = t)
          .select(col("va"), col("vb"), lit(1).as("hit"))
          .localCheckpoint(true))
      exact.join(lsh, Seq("va", "vb"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
        .select((coalesce(col("recall"), lit(1.0)) >= 0.9)
          .cast("int").as("semantic_ok"))
    },

    "dedup_semdedup" -> QueryDef.dynamicOracle(
      doc = "SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup — corpus-scaled k-means cells (autoCells: 16 at sf0.01), within-cell cosine >= 0.4 duplicate edges, keep the member farthest from its centroid (ties by id); the semantics that make embedding dedup tractable on billion-doc corpora. HASH-oracled (r13, formerly rows-only) by the embedding_pca technique: the k-means fit is iterative and not SQL-expressible, but the FITTED centroids are model-sized — they inline as literal DOUBLE[] rows (memoized, so query and oracle replay the identical fit) and DuckDB replays assignment (argmax index-order dot, first-max tie like array_position), the within-cell cosine edges over the same unit vectors (x·(1/sqrt(s)) exactly as L2Normalize computes, never x/sqrt(s)), and the farther-from-centroid drop rule; invariants additionally hash-gated in dedup_semdedup_gate") {
      (s, dir) =>
        val centRows = centroidRows(cellCentroidsFor(s, dir))
        s"""
        WITH cent(cid, c) AS (VALUES $centRows),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nrm AS (SELECT vec_id, v, list_dot_product(v, v) AS s2 FROM e),
        u AS (SELECT vec_id, list_transform(v, x -> x *
                (CASE WHEN s2 = 0 THEN 1.0 ELSE 1.0 / sqrt(s2) END)) AS cv
              FROM nrm),
        dots AS (SELECT u.vec_id, c.cid, list_dot_product(u.cv, c.c) AS d
                 FROM u CROSS JOIN cent c),
        asn AS (SELECT vec_id, cid, round(d, 4) AS cdot FROM (
                  SELECT vec_id, cid, d,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY d DESC, cid) AS rn
                  FROM dots) WHERE rn = 1),
        ed AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                      a.cdot AS da, b.cdot AS db,
                      ua.cv AS xa, ub.cv AS xb
               FROM asn a JOIN asn b
                 ON a.cid = b.cid AND a.vec_id < b.vec_id
               JOIN u ua ON ua.vec_id = a.vec_id
               JOIN u ub ON ub.vec_id = b.vec_id),
        dup AS (SELECT DISTINCT
                       CASE WHEN da <= db THEN vb ELSE va END AS vec_id
                FROM ed WHERE round(list_dot_product(xa, xb), 4) >= 0.4)
        SELECT a.vec_id, CAST(a.cid AS INTEGER) AS cluster,
               a.cdot AS centroid_sim,
               (dup.vec_id IS NOT NULL) AS is_duplicate
        FROM asn a LEFT JOIN dup ON a.vec_id = dup.vec_id"""
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = cellCentroidsFor(s, dir)
      Dedup.semDeDupAssigned(
        graft.operators.Similarity.ivfAssign(e, "vec_id", "embedding",
          cents),
        cents, "vec_id", threshold = 0.4)
    },

    "dedup_semdedup_gate" -> QueryDef(
      doc = "SemDeDup invariant gate (k-means not SQL-expressible — the text_bpe_gate pattern): output partitions the corpus exactly; recomputing the drop set from the EXACT all-pairs cosine edges restricted to the operator's clusters reproduces it verbatim; and no surviving same-cluster pair is above threshold",
      oracle = "SELECT CAST(1 AS INTEGER) AS drops_ok, CAST(1 AS INTEGER) AS no_dup_kept_ok, CAST(1 AS INTEGER) AS partition_ok") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val nCorpus = Tables.count(s, dir, "embeddings")
      // operator output ∥ exact ground truth (Par: guide §2.6 overlap)
      val (out, exact) = Par.two(
        Dedup.semDeDup(e, "vec_id", "embedding",
          threshold = 0.4).localCheckpoint(true),
        Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
          threshold = 0.4).select("va", "vb").localCheckpoint(true))
      val aSide = out.select(col("vec_id").as("va"), col("cluster").as("ca"),
        col("centroid_sim").as("da"), col("is_duplicate").as("dup_a"))
      val bSide = out.select(col("vec_id").as("vb"), col("cluster").as("cb"),
        col("centroid_sim").as("db"), col("is_duplicate").as("dup_b"))
      // exact above-threshold edges that fall inside one cluster — the
      // ground-truth duplicate edges SemDeDup's cluster-local join
      // must have seen
      val inCluster = exact.join(aSide, Seq("va")).join(bSide, Seq("vb"))
        .filter(col("ca") === col("cb")).localCheckpoint(true)
      val expected = inCluster.select(
          when(col("da") <= col("db"), col("vb"))
            .otherwise(col("va")).as("vec_id"))
        .distinct()
      val actual = out.filter(col("is_duplicate")).select("vec_id")
      val cmp = expected.withColumn("e", lit(1))
        .join(actual.withColumn("a", lit(1)), Seq("vec_id"), "full_outer")
      val dropsOk = cmp.agg(coalesce(min(
        (col("e").isNotNull && col("a").isNotNull).cast("int")),
        lit(1)).as("drops_ok"))
      val noDupKeptOk = inCluster.agg(coalesce(min(
        (col("dup_a") || col("dup_b")).cast("int")), lit(1))
        .as("no_dup_kept_ok"))
      val partitionOk = out.agg(((count(lit(1)) === nCorpus) &&
        (countDistinct(col("vec_id")) === nCorpus)).cast("int")
        .as("partition_ok"))
      dropsOk.crossJoin(noDupKeptOk).crossJoin(partitionOk)
    },

    "knn_graph_brute" -> QueryDef(
      doc = "exact corpus self-kNN graph: every vector's cosine top-5 among all OTHER corpus vectors — the graph-curation primitive (SemDeDup-style pruning, diversity, label propagation); EXACT BASELINE (all-pairs quadratic, weak-by-design) — knn_graph is the cell-local scale path",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        scored AS (SELECT b.vec_id AS qid, a.vec_id AS nid, $duckCosine AS cos
                   FROM e a JOIN e b ON a.vec_id <> b.vec_id)
        SELECT qid, nid, rank, cos FROM (
          SELECT qid, nid, cos,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
          FROM scored) WHERE rank <= 5""") { (s, dir) =>
      Similarity.knnGraphBrute(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5)
    },

    "knn_graph" -> QueryDef.dynamicOracle(
      doc = "approximate corpus self-kNN graph — every vector probes its 8 nearest IVF cells (cell count scales with the corpus, Similarity.autoCells: 16 at sf0.01) and ranks cell-local candidates; the one shuffle co-partitions index and probes by cell id (nothing broadcasts — the query side IS the corpus), so the quadratic is bounded per cell. HASH-oracled (r13, formerly rows-only) by the ann_topk_ivf technique: the shared memoized cell model inlines as literals and DuckDB replays assignment, the 8 probe cells, cell-mate scoring, and rank tie-order; edge recall vs brute additionally gated in knn_graph_gate") {
      (s, dir) =>
        s"""
        WITH ${duckCelledKnnG0(centroidRows(cellCentroidsFor(s, dir)))}
        SELECT qid, nid, rank, cos FROM g0"""
    } { (s, dir) => celledKnnGraph(s, dir) },

    "knn_graph_gate" -> QueryDef(
      doc = "agreement gate: edge recall of the cell-local kNN graph (the SAME shared-model build the knn_graph row and the graph_* family compute on) vs the brute-force graph (>=0.7 => knn_graph_ok=1; measured 0.82/0.81 at sf0.01/0.1 on the near-random fixture) — the driver-visible regression check for the approximate graph path. Deliberately quadratic (the brute side) — a FIXTURE-SCALE gate, never a production path; the production rows all ride the celled build it certifies",
      oracle = "SELECT CAST(1 AS INTEGER) AS knn_graph_ok") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // independent legs materialize CONCURRENTLY (Par: guide §2.6) —
      // the brute side's few long tasks leave most cores idle, and
      // the celled side back-fills them; measured 2-6 of 32 cores on
      // this row when the legs ran sequentially
      val (brute, approx) = Par.two(
        Similarity.knnGraphBrute(e, "vec_id", "embedding", k = 5)
          .select("qid", "nid").localCheckpoint(true),
        celledKnnGraph(s, dir)
          .select(col("qid"), col("nid"), lit(1).as("hit"))
          .localCheckpoint(true))
      brute.join(broadcast(approx), Seq("qid", "nid"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
        .select((coalesce(col("recall"), lit(1.0)) >= 0.7)
          .cast("int").as("knn_graph_ok"))
    },

    "knn_graph_delta_gate" -> QueryDef(
      doc = "incremental-graph gate: the graph maintained by knnGraphDelta (old corpus's prior edges + a 1-in-7 delta folded through delta-bounded probes) must EQUAL a full knnGraphFromIndex rebuild over the maintained index — edge-set equality both directions, plus a non-vacuity check that the delta actually changed the graph; the merge ≡ rebuild proof for the graph family",
      oracle = "SELECT CAST(1 AS INTEGER) AS delta_eq_full, CAST(1 AS INTEGER) AS delta_changed_graph") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val old = e.filter(col("vec_id") % 7 =!= 0)
      val delta = e.filter(col("vec_id") % 7 === 0)
      // autoCells, not a frozen 16: a fixed cell count turns the
      // cell-local joins quadratic the moment the corpus outgrows it
      // (the knnGraph scaladoc's measured 21.6× decade hazard)
      val centroids = Similarity.trainCentroids(old, "vec_id", "embedding",
        nCentroids = Similarity.autoCells(old.count()), iters = 5)
      // old-index and full-index assignments are independent; so are
      // the delta-maintained graph and the full rebuild once both
      // indexes exist — overlap each pair (Par: guide §2.6)
      val (oldIndex, fullIndex) = Par.two(
        Similarity.ivfAssign(old, "vec_id", "embedding",
          centroids).localCheckpoint(true),
        Similarity.ivfAssign(e, "vec_id", "embedding",
          centroids).localCheckpoint(true))
      val prior = Similarity.knnGraphFromIndex(oldIndex, centroids, old,
        "vec_id", "embedding", k = 5, nProbe = 8).localCheckpoint(true)
      val (got, want) = Par.two(
        Similarity.knnGraphDelta(fullIndex, centroids, prior,
          delta.select("vec_id"), k = 5, nProbe = 8).localCheckpoint(true),
        Similarity.knnGraphFromIndex(fullIndex, centroids, e,
          "vec_id", "embedding", k = 5, nProbe = 8).localCheckpoint(true))
      // both equality legs fold to ONE short-circuiting job each (the
      // r12 store-gate fold), run concurrently over the checkpointed
      // frames
      val (eq, changed) = Par.two(
        got.exceptAll(want).unionByName(want.exceptAll(got)).isEmpty,
        !prior.exceptAll(want).unionByName(want.exceptAll(prior)).isEmpty)
      val spark = s
      import spark.implicits._
      Seq((if (eq) 1 else 0, if (changed) 1 else 0))
        .toDF("delta_eq_full", "delta_changed_graph")
    },

    "corpus_centrality" -> QueryDef.dynamicOracle(
      doc = "PageRank centrality over the CELL-BOUNDED self-kNN graph (k=5, 10 unrolled iterations, damping 0.85; r13 — formerly rebuilt an exact brute n² graph, quadratic at the decade step by construction) — the corpus-cartography signal for representative-doc selection; one hash-join job per round, rank rows (never edges) in each exchange") {
      (s, dir) =>
        val base = s"""
        WITH ${duckCelledKnnG0(centroidRows(cellCentroidsFor(s, dir)))},
        g AS (SELECT qid AS u, nid AS v FROM g0),
        deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS od FROM g GROUP BY u),
        n0 AS (SELECT DISTINCT u AS node FROM g),
        pr0 AS (SELECT node, 1.0 AS r FROM n0)"""
        val iterations = (1 to 10).map { it =>
          s"""
        pr$it AS (SELECT n.node,
              (1 - 0.85) + 0.85 * coalesce(s.x, 0) AS r
            FROM n0 n LEFT JOIN (
              SELECT g.v AS node, sum(p.r / d.od) AS x
              FROM g JOIN pr${it - 1} p ON p.node = g.u
                     JOIN deg d ON d.u = g.u
              GROUP BY g.v) s ON s.node = n.node)"""
        }.mkString(",")
        s"""$base,$iterations
        SELECT node AS vec_id, round(r, 4) AS centrality FROM pr10"""
    } { (s, dir) =>
      Similarity.knnCentrality(celledKnnGraph(s, dir),
        iters = 10, damping = 0.85)
    },

    "graph_label_prop" -> QueryDef.dynamicOracle(
      doc = "label propagation over the CELL-BOUNDED self-kNN graph (k=5, 5 rounds; r13 — formerly rebuilt an exact brute n² graph, quadratic at the decade step by construction): seeds (vec_id<100) keep their labels, unlabeled nodes take the most common label among their neighbors each round (ties by smallest label, all-unlabeled neighborhoods abstain) — turns 20% curated labels into corpus-wide weak labels, reaching nodes knn_label_predict's single hop cannot; deterministic integer argmax → the oracle replays the exact iteration") {
      (s, dir) =>
        val base = s"""
        WITH ${duckCelledKnnG0(centroidRows(cellCentroidsFor(s, dir)))},
        g AS (SELECT qid AS u, nid AS v FROM g0),
        n0 AS (SELECT DISTINCT u AS node FROM g),
        seed AS (SELECT vec_id AS node, CAST(label AS INTEGER) AS seed_label
                 FROM embeddings WHERE vec_id < 100),
        l0 AS (SELECT n.node, s.seed_label AS lbl
               FROM n0 n LEFT JOIN seed s ON s.node = n.node)"""
        val iterations = (1 to 5).map { it =>
          s"""
        l$it AS (SELECT n.node, coalesce(s.seed_label, w.win, p.lbl) AS lbl
            FROM n0 n
            LEFT JOIN l${it - 1} p ON p.node = n.node
            LEFT JOIN seed s ON s.node = n.node
            LEFT JOIN (
              SELECT node, win FROM (
                SELECT g.u AS node, p2.lbl AS win,
                       row_number() OVER (PARTITION BY g.u
                         ORDER BY count(*) DESC, p2.lbl) AS rk
                FROM g JOIN l${it - 1} p2 ON p2.node = g.v
                WHERE p2.lbl IS NOT NULL
                GROUP BY g.u, p2.lbl) WHERE rk = 1) w ON w.node = n.node)"""
        }.mkString(",")
        s"""$base,$iterations
        SELECT l.node AS vec_id, l.lbl AS label,
               (s.node IS NOT NULL) AS is_seed
        FROM l5 l LEFT JOIN seed s ON s.node = l.node"""
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.labelPropagation(celledKnnGraph(s, dir),
        seeds = e.filter(col("vec_id") < 100),
        idCol = "vec_id", labelCol = "label", iters = 5)
    },

    "graph_clustering" -> QueryDef.dynamicOracle(
      doc = "local clustering coefficient over the CELL-BOUNDED self-kNN graph (k=5, undirected projection; r13 — formerly rebuilt an exact brute n² graph, quadratic at the decade step by construction): triangles / possible neighbor pairs per node — separates docs inside dense semantic clusters (dedup targets) from bridges/outliers; all key-partitioned hash joins, wedge fan-out bounded by degree², hub skew AQE-split with a drop-and-audit maxDegree cap for true hubs") {
      (s, dir) => s"""
        WITH ${duckCelledKnnG0(centroidRows(cellCentroidsFor(s, dir)))},
        g AS (SELECT qid, nid FROM g0),
        sym AS (SELECT DISTINCT least(qid, nid) AS a, greatest(qid, nid) AS b FROM g),
        adj AS (SELECT a AS v, b AS w FROM sym UNION ALL SELECT b AS v, a AS w FROM sym),
        deg AS (SELECT v, count(*) AS degree FROM adj GROUP BY v),
        tri AS (SELECT w.v, count(*) AS n_triangles
                FROM (SELECT l.v AS v, l.w AS x, r.w AS y
                      FROM adj l JOIN adj r ON l.v = r.v AND l.w < r.w) w
                JOIN sym s ON w.x = s.a AND w.y = s.b GROUP BY w.v)
        SELECT d.v AS vec_id, d.degree AS degree,
               coalesce(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
               round(CASE WHEN d.degree >= 2
                 THEN 2.0 * coalesce(t.n_triangles, 0) / (d.degree * (d.degree - 1))
                 ELSE 0.0 END, 4) AS clustering_coeff
        FROM deg d LEFT JOIN tri t ON t.v = d.v"""
    } { (s, dir) =>
      Similarity.knnClusteringCoeff(celledKnnGraph(s, dir))
    },

    "graph_kcore" -> QueryDef.dynamicOracle(
      doc = "k-core peel over the CELL-BOUNDED self-kNN graph (k=6, 10 fixed rounds; r13 — formerly rebuilt an exact brute n² graph, quadratic at the decade step by construction): per node, core membership and the peel round that removed it — peel depth orders nodes by local embedding density even when (as on this isotropic fixture) the cascade empties the core; fixed rounds so the oracle unrolls the identical iteration (MATERIALIZED CTEs — each step references its predecessor twice)") {
      (s, dir) =>
        val steps = (1 to 10).map { i =>
          s"""
        s$i AS MATERIALIZED (SELECT l.v FROM adj l
             JOIN s${i - 1} x ON l.v = x.v
             JOIN s${i - 1} y ON l.w = y.v
             GROUP BY l.v HAVING count(*) >= 6)"""
        }.mkString(",")
        val present = (1 to 10).map(i =>
          s"(CASE WHEN s$i.v IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ")
        val joins = (1 to 10).map(i =>
          s"LEFT JOIN s$i ON n0.v = s$i.v").mkString(" ")
        s"""
        WITH ${duckCelledKnnG0(centroidRows(cellCentroidsFor(s, dir)))},
        g AS MATERIALIZED (SELECT qid, nid FROM g0),
        sym AS MATERIALIZED (SELECT DISTINCT least(qid, nid) AS a, greatest(qid, nid) AS b FROM g),
        adj AS MATERIALIZED (SELECT a AS v, b AS w FROM sym UNION ALL SELECT b AS v, a AS w FROM sym),
        n0 AS MATERIALIZED (SELECT DISTINCT v FROM adj),
        s0 AS MATERIALIZED (SELECT v FROM n0),$steps
        SELECT n0.v AS vec_id,
               ($present) = 10 AS in_kcore,
               CAST(CASE WHEN ($present) = 10 THEN 0
                    ELSE ($present) + 1 END AS INTEGER) AS drop_round
        FROM n0 $joins"""
    } { (s, dir) =>
      Similarity.kCore(celledKnnGraph(s, dir), k = 6, rounds = 10)
    },

    "quality_model_gate" -> QueryDef(
      doc = "model-based quality scoring gate (L-BFGS training is iterative, not SQL-expressible — the text_bpe_gate pattern): the classifier trained on the rule gate's weak labels must emit calibrated probabilities in [0,1], separate rule-positive from rule-negative docs by >= 0.2 mean probability, agree with the weak labels on >= 80% of docs, and reach training AUC >= 0.9",
      oracle = "SELECT CAST(1 AS INTEGER) AS probs_ok, CAST(1 AS INTEGER) AS separable_ok, CAST(1 AS INTEGER) AS agree_ok, CAST(1 AS INTEGER) AS auc_ok") { (s, dir) =>
      val feats = graft.operators.QualityModel.features(
        Tables.load(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint(true)
      val model = graft.operators.QualityModel.train(feats)
      val aucOk = model.binarySummary.areaUnderROC >= 0.9
      graft.operators.QualityModel.score(model, feats).agg(
        min(col("quality_prob").between(0.0, 1.0).cast("int"))
          .as("probs_ok"),
        ((avg(when(col("is_quality"), col("quality_prob"))) -
          avg(when(!col("is_quality"), col("quality_prob")))) >= 0.2)
          .cast("int").as("separable_ok"),
        (avg((col("pred_quality") === col("is_quality")).cast("int"))
          >= 0.8).cast("int").as("agree_ok"))
        .withColumn("auc_ok", lit(aucOk).cast("int"))
    },

    "dedup_contamination" -> QueryDef(
      doc = "benchmark decontamination: fraction of each corpus doc's 3-gram shingles leaked into the eval split (docs <50) — broadcast eval shingle set, one corpus agg",
      oracle = s"""
        WITH $duckShingles,
        c AS (SELECT * FROM sh WHERE doc >= 50),
        e AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
        j AS (SELECT c.doc, count(*) AS n,
                     sum(CASE WHEN e.shingle IS NULL THEN 0 ELSE 1 END) AS h
              FROM c LEFT JOIN e ON c.shingle = e.shingle
              GROUP BY c.doc)
        SELECT doc AS doc_id, round(h * 1.0 / n, 4) AS overlap_ratio,
               round(h * 1.0 / n, 4) >= 0.5 AS is_contaminated
        FROM j""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Dedup.contamination(
        corpus = d.filter(col("doc_id") >= 50),
        eval = d.filter(col("doc_id") < 50),
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
    },

    "pack_sequences" -> QueryDef(
      doc = "sequence packing: docs → 512-token context windows by id-order concatenation; distributed two-phase prefix sum (the oracle's single global window is the plan that does NOT survive a cluster)",
      oracle = """
        WITH t AS (SELECT doc_id,
                          CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
                   FROM documents),
        c AS (SELECT doc_id, n,
                     sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
              FROM t)
        SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
               CAST((cum - n) // 512 AS BIGINT) AS pack_id,
               CAST((cum - n) % 512 AS BIGINT) AS pack_offset
        FROM c""") { (s, dir) =>
      graft.operators.Packing.packSequences(
        Tables.load(s, dir, "documents"), "doc_id", "text", budget = 512)
    },

    "ann_recall_lsh" -> annRecall("lsh", 0.6) { (c, q) =>
      Similarity.lshTopK(c, q, "vec_id", "embedding", 5,
        bitsPerTable = 4, tables = 16)
    },

    "ann_recall_ivf" -> annRecall("ivf", 0.6) { (c, q) =>
      Similarity.ivfTopK(c, q, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 8)
    },

    "ann_recall_sq" -> annRecall("sq", 0.9) { (c, q) =>
      Similarity.sqTopK(c, q, "vec_id", "embedding", 5)
    },

    "ann_recall_pq" -> annRecall("pq", 0.6) { (c, q) =>
      Similarity.pqTopK(c, q, "vec_id", "embedding", 5, m = 16, ksub = 16)
    },

    "ann_recall_ivfpq" -> annRecall("ivfpq", 0.6) { (c, q) =>
      Similarity.ivfPqTopK(c, q, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 8, m = 16, ksub = 16)
    },

    "ann_topk_filtered" -> QueryDef.noOracle(
      doc = "metadata-filtered IVF ANN top-5 (label=3 predicate fused into the probed-cell scan; queries whose filtered cells under-deliver fall back to an exact sweep of the filtered subset — guaranteed k) — approximation → rows-only; recall gated in ann_recall_filtered") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val centroids = Similarity.trainCentroids(
        corpus, "vec_id", "embedding", nCentroids = 16)
      val index = Similarity.ivfAssign(corpus, "vec_id", "embedding",
        centroids, keepCols = Seq("label"))
      Similarity.ivfTopKFilteredFromIndex(index, centroids, queries,
        "vec_id", "embedding", k = 5,
        predicate = col("label") === 3, nProbe = 8, minCandidates = 20)
    },

    "ann_recall_filtered" -> QueryDef(
      doc = "recall@5 of the filtered IVF path vs brute force over the same label=3 predicate (≥0.5 ⇒ recall_ok=1; measured 0.60/0.68 at sf0.01/0.1 — the near-random fixture's IVF ceiling, same as the unfiltered gate's 0.74) — driver-visible regression check for filtered serving",
      oracle = "SELECT 'ivf_filtered' AS variant, CAST(5 AS INTEGER) AS k, CAST(1 AS INTEGER) AS recall_ok") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(
          corpus.filter(col("label") === 3), queries,
          "vec_id", "embedding", 5)
        .select(col("qid"), col("nid")).localCheckpoint(true)
      val centroids = Similarity.trainCentroids(
        corpus, "vec_id", "embedding", nCentroids = 16)
      val index = Similarity.ivfAssign(corpus, "vec_id", "embedding",
        centroids, keepCols = Seq("label"))
      val hits = Similarity.ivfTopKFilteredFromIndex(index, centroids,
          queries, "vec_id", "embedding", k = 5,
          predicate = col("label") === 3, nProbe = 8, minCandidates = 20)
        .select(col("qid"), col("nid"), lit(1).as("hit")).localCheckpoint(true)
      brute.join(hits, Seq("qid", "nid"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
        .select(lit("ivf_filtered").as("variant"), lit(5).cast("int").as("k"),
          (coalesce(col("recall"), lit(1.0)) >= 0.5).cast("int").as("recall_ok"))
    },

    "dedup_containment_lsh" -> QueryDef(
      doc = "approximate directional containment — banded MinHash(128/64) candidates + signature-derived containment estimate prefilter + exact verification; survivor scores are exact, so it shares the exact baseline's oracle where recall holds (and dedup_containment_gate measures that recall)",
      oracle = containmentOracle(0.6)) { (s, dir) =>
      Dedup.containmentLsh(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 3, threshold = 0.6)
    },

    "ann_topk_filtered_pq" -> QueryDef.noOracle(
      doc = "metadata-filtered IVF-PQ ANN top-5 (label=3 fused into the probed-cell ADC scan; thin-pool shortfall falls back to a full-ADC sweep of the filtered index, exact rerank of the 5× shortlist) — approximation → rows-only; forced-fallback ≡ brute pinned in SimilaritySpec, mechanism gated in ann_recall_filtered") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val (centroids, codebooks) = Similarity.trainIvfPq(
        corpus, "vec_id", "embedding", nCentroids = 16, m = 16, ksub = 16)
      val index = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
        centroids, codebooks, keepCols = Seq("label"))
      Similarity.ivfPqTopKFilteredFromIndex(index, centroids, codebooks,
        queries, "vec_id", "embedding", k = 5,
        predicate = col("label") === 3, nProbe = 8, oversample = 5,
        rerankWith = Some(corpus), minCandidates = 20)
    },

    "dedup_containment_gate" -> QueryDef(
      doc = "agreement gate: recall of containmentLsh's pair set vs exact shingleContainment (≥0.95 ⇒ containment_ok=1) — the driver-visible regression check for the approximate containment path",
      oracle = "SELECT CAST(1 AS INTEGER) AS containment_ok") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      // exact baseline ∥ approximate path (Par: guide §2.6 overlap)
      val (exact, lsh) = Par.two(
        Dedup.shingleContainment(d, "doc_id", "text",
            k = 3, threshold = 0.6)
          .select(col("da"), col("db")).localCheckpoint(true),
        Dedup.containmentLsh(d, "doc_id", "text",
            k = 3, threshold = 0.6)
          .select(col("da"), col("db"), lit(1).as("hit"))
          .localCheckpoint(true))
      exact.join(lsh, Seq("da", "db"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
        .select((coalesce(col("recall"), lit(1.0)) >= 0.95)
          .cast("int").as("containment_ok"))
    },

    "multimodal_frames" -> QueryDef(
      doc = "frame sampling over binary payloads: every 64 bytes take a 16-byte window, fingerprint per frame (video keyframe plumbing, stubbed codec)",
      oracle = """
        WITH f AS (SELECT doc_id, text,
                          unnest(generate_series(0, CAST(floor((length(text) - 1) / 64.0) AS INTEGER))) AS fn
                   FROM documents WHERE length(text) > 0)
        SELECT doc_id, CAST(fn AS INTEGER) AS frame_no,
               md5(substr(text, fn * 64 + 1, 16)) AS frame_md5
        FROM f""") { (s, dir) =>
      Multimodal.sampleFrameFeatures(
        Multimodal.asMedia(Tables.load(s, dir, "documents")),
        stride = 64, frameLen = 16).toDF()
    },

    "pack_length_batches" -> QueryDef(
      doc = "length-bucketed batch assignment (dynamic-batching prep): docs band by integer token thresholds (16/32/64/128), batches of 8 in seeded order within band — padding waste bounded by the band width; engine ranks via the two-phase prefix pattern, never one partition per band",
      oracle = """
        WITH t AS (SELECT doc_id,
                          CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n,
                          md5('batch1:' || CAST(doc_id AS VARCHAR)) AS key
                   FROM documents),
        b AS (SELECT doc_id, n, key,
                     (CASE WHEN n >= 16 THEN 1 ELSE 0 END +
                      CASE WHEN n >= 32 THEN 1 ELSE 0 END +
                      CASE WHEN n >= 64 THEN 1 ELSE 0 END +
                      CASE WHEN n >= 128 THEN 1 ELSE 0 END) AS band
              FROM t),
        r AS (SELECT doc_id, n, band,
                     row_number() OVER (PARTITION BY band ORDER BY key) - 1 AS rk
              FROM b),
        bc AS (SELECT band, count(*) AS cnt FROM b GROUP BY 1),
        starts AS (SELECT band,
                          coalesce(sum((cnt + 7) // 8) OVER (ORDER BY band
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
                   FROM bc)
        SELECT r.doc_id, CAST(r.n AS INTEGER) AS n_tokens,
               CAST(r.band AS INTEGER) AS len_bucket,
               CAST(s.st + r.rk // 8 AS BIGINT) AS batch_id
        FROM r JOIN starts s USING (band)""") { (s, dir) =>
      graft.operators.Packing.lengthBucketBatches(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        batchSize = 8, seed = "batch1")
    },

    "corpus_oversample" -> QueryDef(
      doc = "deterministic oversampling (mixture multipliers): src0 ×2.5 (two copies + a salted-hash half), src1 ×0.4 (downsample), rest ×1 — epoch column for loader interleaving; narrow explode, zero shuffles",
      oracle = """
        WITH m AS (SELECT doc_id, source,
                          CASE WHEN source = 'src0' THEN 2.5
                               WHEN source = 'src1' THEN 0.4
                               ELSE 1.0 END AS mult,
                          ('0x' || substr(md5('os:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS draw
                   FROM documents),
        c AS (SELECT doc_id, source,
                     CAST(floor(mult) AS BIGINT) +
                       (CASE WHEN draw < CAST(round((mult - floor(mult)) * 10000) AS BIGINT)
                             THEN 1 ELSE 0 END) AS copies
              FROM m)
        SELECT doc_id, source, CAST(unnest(generate_series(0, CAST(copies AS INTEGER) - 1)) AS INTEGER) AS epoch
        FROM c WHERE copies > 0""") { (s, dir) =>
      Sampling.oversample(Tables.load(s, dir, "documents"),
          idCol = "doc_id", strataCol = "source",
          multipliers = Map("src0" -> 2.5, "src1" -> 0.4))
        .select("doc_id", "source", "epoch")
    },

    "corpus_token_mix" -> QueryDef(
      doc = "token-budget mixture sampling (the data-mixing step): each source contributes docs in seeded-shuffle order until its TOKEN quota is met; unlisted sources excluded. Engine uses the two-phase per-(source,bucket) prefix sum — never one partition per source; the oracle's single per-source window is the plan that does NOT survive a hot source",
      oracle = """
        WITH t AS (SELECT doc_id, source,
                          CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n,
                          md5('mix1:' || CAST(doc_id AS VARCHAR)) AS key
                   FROM documents),
        q AS (SELECT * FROM (VALUES ('src0', 800), ('src1', 400), ('src2', 100000))
                AS q(source, quota)),
        c AS (SELECT t.doc_id, t.source, t.n, q.quota,
                     sum(t.n) OVER (PARTITION BY t.source ORDER BY t.key
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM t JOIN q USING (source))
        SELECT doc_id, source, CAST(n AS INTEGER) AS n_tokens
        FROM c WHERE cum <= quota""") { (s, dir) =>
      Sampling.tokenBudgetMix(Tables.load(s, dir, "documents"),
          idCol = "doc_id", sourceCol = "source", textCol = "text",
          quotas = Map("src0" -> 800L, "src1" -> 400L, "src2" -> 100000L),
          seed = "mix1", withTokenCount = true)
        .select("doc_id", "source", "n_tokens")
    },

    "multimodal_frame_dedup" -> QueryDef(
      doc = "cross-document shared frames (segment-level video dedup): fingerprints in >1 doc with occurrence counts and doc bounds — one fingerprint-keyed agg; frame bytes never shuffle",
      oracle = """
        WITH f AS (SELECT doc_id, text,
                          unnest(generate_series(0, CAST(floor((length(text) - 1) / 64.0) AS INTEGER))) AS fn
                   FROM documents WHERE length(text) > 0),
        h AS (SELECT doc_id, md5(substr(text, fn * 64 + 1, 16)) AS frame_md5 FROM f)
        SELECT frame_md5,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occ,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM h GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""") { (s, dir) =>
      Multimodal.sharedFrames(
        Multimodal.asMedia(Tables.load(s, dir, "documents")),
        stride = 64, frameLen = 16)
    },

    "knn_label_predict" -> QueryDef(
      doc = "kNN label prediction: majority label of the 5 nearest corpus neighbors per query (most votes, then smallest label) — the weak-labeling / embedding-eval primitive",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        c AS (SELECT * FROM e WHERE vec_id >= 10),
        scored AS (SELECT b.vec_id AS qid, b.label AS true_label,
                          a.label AS nlabel, a.vec_id AS nid, $duckCosine AS cos
                   FROM c a CROSS JOIN q b),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
                   FROM scored),
        votes AS (SELECT qid, true_label, nlabel, count(*) AS n
                  FROM ranked WHERE rk <= 5 GROUP BY qid, true_label, nlabel)
        SELECT qid, CAST(true_label AS INTEGER) AS true_label,
               CAST(nlabel AS INTEGER) AS pred_label
        FROM (SELECT qid, true_label, nlabel,
                     row_number() OVER (PARTITION BY qid ORDER BY n DESC, nlabel) AS vr
              FROM votes) WHERE vr = 1""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.knnPredict(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", labelCol = "label", k = 5)
    },

    "eval_classification" -> QueryDef(
      doc = "per-class precision/recall/F1 of the kNN label predictor over a 100-query split — the evaluation companion to the label predictors; integer-ratio F1 (2·tp/(n_pred+n_true)) so the SQL oracle hash-matches exactly; three class-grain aggregations, exchanges carry one row per class per task",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 100),
        c AS (SELECT * FROM e WHERE vec_id >= 100),
        scored AS (SELECT b.vec_id AS qid, b.label AS true_label,
                          a.label AS nlabel, a.vec_id AS nid, $duckCosine AS cos
                   FROM c a CROSS JOIN q b),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
                   FROM scored),
        votes AS (SELECT qid, true_label, nlabel, count(*) AS n
                  FROM ranked WHERE rk <= 5 GROUP BY qid, true_label, nlabel),
        pred AS (SELECT qid, true_label, nlabel AS pred_label
                 FROM (SELECT qid, true_label, nlabel,
                              row_number() OVER (PARTITION BY qid ORDER BY n DESC, nlabel) AS vr
                       FROM votes) WHERE vr = 1),
        t AS (SELECT true_label AS class, count(*) AS n_true FROM pred GROUP BY 1),
        p AS (SELECT pred_label AS class, count(*) AS n_pred FROM pred GROUP BY 1),
        tpc AS (SELECT true_label AS class, count(*) AS tp FROM pred
                WHERE true_label = pred_label GROUP BY 1)
        SELECT CAST(coalesce(t.class, p.class) AS INTEGER) AS class,
               CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true,
               CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
               CAST(coalesce(tpc.tp, 0) AS BIGINT) AS tp,
               CASE WHEN coalesce(p.n_pred, 0) = 0 THEN 0.0
                    ELSE round(coalesce(tpc.tp, 0) * 1.0 / p.n_pred, 4)
               END AS precision,
               CASE WHEN coalesce(t.n_true, 0) = 0 THEN 0.0
                    ELSE round(coalesce(tpc.tp, 0) * 1.0 / t.n_true, 4)
               END AS recall,
               CASE WHEN coalesce(p.n_pred, 0) + coalesce(t.n_true, 0) = 0 THEN 0.0
                    ELSE round(2.0 * coalesce(tpc.tp, 0)
                      / (coalesce(p.n_pred, 0) + coalesce(t.n_true, 0)), 4)
               END AS f1
        FROM t FULL OUTER JOIN p ON t.class = p.class
        LEFT JOIN tpc ON coalesce(t.class, p.class) = tpc.class""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      graft.operators.Eval.classificationMetrics(
        Similarity.knnPredict(
          corpus = e.filter(col("vec_id") >= 100),
          queries = e.filter(col("vec_id") < 100),
          idCol = "vec_id", vecCol = "embedding", labelCol = "label", k = 5),
        "true_label", "pred_label")
    },

    "hard_negatives" -> QueryDef(
      doc = "hard-negative mining for contrastive training: each query's 3 nearest corpus vectors with a DIFFERENT label (same no-corpus-shuffle plan as brute top-k, mismatch predicate fused into the scored join)",
      oracle = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        c AS (SELECT * FROM e WHERE vec_id >= 10),
        scored AS (SELECT b.vec_id AS qid, b.label AS qlabel,
                          a.vec_id AS nid, a.label AS nlabel, $duckCosine AS cos
                   FROM c a CROSS JOIN q b WHERE a.label <> b.label),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
                   FROM scored)
        SELECT qid, CAST(qlabel AS INTEGER) AS qlabel,
               nid, CAST(nlabel AS INTEGER) AS nlabel,
               CAST(rk AS INTEGER) AS rank, cos
        FROM ranked WHERE rk <= 3""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.hardNegatives(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", labelCol = "label", k = 3)
    },

    "text_tokens" -> QueryDef(
      doc = "token counting: whitespace + BPE-ish regex pre-tokenizer counts",
      oracle = s"""
        SELECT doc_id,
               CAST(len($duckToks) AS INTEGER) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS n_regex_tokens,
               CAST(length(text) AS INTEGER) AS n_chars
        FROM documents""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("n_regex_tokens"),
        length(col("text")).as("n_chars"))
    },

    "text_quality" -> QueryDef(
      doc = "quality scoring: length/punct/stopword features + composite gate (pre-training corpus filters)",
      oracle = s"""
        WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS word_count,
               round(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks), 4) AS avg_word_len,
               round(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio,
               round(CAST(len(list_filter(toks, w -> list_contains(${duckLex("en")}, w))) AS DOUBLE) / len(toks), 4) AS stopword_ratio,
               (len(toks) >= 5 AND length(text) >= 40
                AND CAST(len(list_filter(toks, w -> list_contains(${duckLex("en")}, w))) AS DOUBLE) / len(toks) >= 0.01) AS is_quality
        FROM t""") { (s, dir) =>
      TextAnalysis.qualityFeatures(Tables.load(s, dir, "documents"))
        .select("doc_id", "word_count", "avg_word_len", "punct_ratio",
          "stopword_ratio", "is_quality")
    },

    "text_gopher" -> QueryDef(
      doc = "Gopher quality-rule battery (Rae et al. 2021 A1.1): word-count bounds, mean word length, symbol ratio, alpha-word fraction, distinct-stopword hits, composite pass",
      oracle = {
        val stopArr = TextAnalysis.gopherStopwords
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""
        WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
        m AS (SELECT doc_id, text, toks,
                     len(toks) AS nw,
                     CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
                       / nullif(len(toks), 0) AS mean_len,
                     CAST((length(text) - length(replace(text, '#', '')))
                          + (length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE)
                       / nullif(len(toks), 0) AS sym_ratio,
                     CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                       / nullif(len(toks), 0) AS alpha_ratio,
                     len(list_filter($stopArr, w -> list_contains(toks, w))) AS stop_hits
              FROM t)
        SELECT doc_id,
               CAST(nw AS INTEGER) AS word_count,
               round(mean_len, 4) AS mean_word_len,
               round(sym_ratio, 4) AS symbol_word_ratio,
               round(alpha_ratio, 4) AS alpha_word_ratio,
               CAST(stop_hits AS INTEGER) AS stop_hits,
               coalesce(nw >= 50 AND nw <= 100000 AND mean_len >= 3.0
                 AND mean_len <= 10.0 AND sym_ratio < 0.1
                 AND alpha_ratio > 0.8 AND stop_hits >= 2, false) AS gopher_pass
        FROM m"""
      }) { (s, dir) =>
      TextAnalysis.gopherRules(Tables.load(s, dir, "documents"))
        .select("doc_id", "word_count", "mean_word_len", "symbol_word_ratio",
          "alpha_word_ratio", "stop_hits", "gopher_pass")
    },

    "text_langid" -> QueryDef(
      doc = "lexicon-vote language ID with fixed tie-break order (n-gram heuristic family)",
      oracle = {
        val scores = TextAnalysis.lexicons.map { case (lang, _) =>
          s"len(list_filter(toks, w -> list_contains(${duckLex(lang)}, w))) AS s_$lang"
        }.mkString(", ")
        val langs = TextAnalysis.lexicons.map(_._1)
        val cases = langs.map { lang =>
          val geAll = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
          s"WHEN $geAll THEN '$lang'"
        }.mkString(" ")
        s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        sc AS (SELECT doc_id, $scores FROM t)
        SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS pred_lang FROM sc"""
      }) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
    },

    "text_fingerprint" -> QueryDef(
      doc = "document fingerprints: exact md5 + order-insensitive token-set md5",
      oracle = s"""
        SELECT doc_id, md5(text) AS md5_exact,
               md5(array_to_string(list_sort(list_distinct($duckToks)), ' ')) AS md5_tokenset
        FROM documents""") { (s, dir) =>
      TextAnalysis.fingerprints(Tables.load(s, dir, "documents"))
        .select("doc_id", "md5_exact", "md5_tokenset")
    },

    "text_winnow" -> QueryDef(
      doc = "winnowing fingerprints (rolling-hash family): char 8-gram hashes, window-4 minima, distinct — MOSS scheme",
      oracle = """
        WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS p
                     FROM documents WHERE length(text) >= 11),
        h AS (SELECT doc_id, p, ('0x' || substr(md5(substr(text, p, 8)), 1, 15))::BIGINT AS hv
              FROM pos),
        wm AS (SELECT doc_id, p,
                      min(hv) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                      count(*) OVER (PARTITION BY doc_id) AS n
               FROM h)
        SELECT DISTINCT doc_id, fp FROM wm WHERE p <= n - 3""") { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.WinnowFingerprint.column(col("text"), 8, 4)).as("fp"))
    },

    "text_normalize" -> QueryDef(
      doc = "dedup preprocessing: lowercase, strip non-alphanumerics, collapse whitespace — the canonical form the dedup family hashes",
      oracle = """
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5
        FROM documents""") { (s, dir) =>
      val norm = TextAnalysis.normalize(col("text"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), norm.as("norm_text"), md5(norm).as("norm_md5"))
    },

    "text_tfidf" -> QueryDef(
      doc = "TF-IDF weights per (doc, token): explode → checkpointed (doc, token) agg → vocab-sized df agg joined back (AQE-splittable Zipf head) + broadcast scalar corpus count — keyword scoring for salient-term extraction",
      oracle = s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS token, len(toks) AS n FROM t),
        tf AS (SELECT doc_id, token, count(*) AS c, any_value(n) AS n
               FROM tok GROUP BY doc_id, token),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
        SELECT doc_id, token,
               round((c * 1.0 / n) * ln(nd * 1.0 / df), 4) AS tfidf
        FROM tf JOIN dfreq USING (token) CROSS JOIN nd""") { (s, dir) =>
      TextAnalysis.tfidf(Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    "text_bm25" -> QueryDef(
      doc = "Okapi BM25 per (doc, token): saturated tf with doc-length normalization + smoothed idf — the lexical-retrieval half of hybrid search; same df-agg-join plan as text_tfidf",
      oracle = s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS token, len(toks) AS dl FROM t),
        tf AS (SELECT doc_id, token, count(*) AS c, any_value(dl) AS dl
               FROM tok GROUP BY doc_id, token),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        st AS (SELECT count(DISTINCT doc_id) AS nd, sum(len(toks)) AS suml FROM t)
        SELECT doc_id, token,
               round(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) *
                     (c * (1.2 + 1)) /
                     (c + 1.2 * ((1 - 0.75) + 0.75 * (dl * 1.0 * nd / suml))), 4)
                 AS bm25
        FROM tf JOIN dfreq USING (token) CROSS JOIN st""") { (s, dir) =>
      TextAnalysis.bm25(Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    "text_pmi" -> QueryDef(
      doc = "adjacent-bigram PMI collocations (pairs seen >= 5 times): one corpus shuffle to bigram counts, then margins/total over the model-sized count table — phrase mining for vocabulary merging",
      oracle = s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        bg AS (SELECT toks[g] AS w1, toks[g+1] AS w2
               FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS g
                     FROM t WHERE len(toks) >= 2)),
        c AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY w1, w2),
        m1 AS (SELECT w1, sum(n_pair) AS c1 FROM c GROUP BY w1),
        m2 AS (SELECT w2, sum(n_pair) AS c2 FROM c GROUP BY w2),
        n AS (SELECT sum(n_pair) AS n FROM c)
        SELECT w1, w2, n_pair,
               round(ln((n_pair * 1.0 * n) / (c1 * 1.0 * c2)), 4) AS pmi
        FROM c JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
        WHERE n_pair >= 5""") { (s, dir) =>
      TextAnalysis.pmiPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        minCount = 5L)
    },

    "text_heavy_hitters" -> QueryDef(
      doc = "exact heavy-hitter tokens (>1% of the corpus) routed through a Misra-Gries sketch: the sketch pass ships <= k counters per partition (never one row per distinct token), its survivors are a guaranteed superset of the answer, and an exact rerank over that <= k-key set makes the output deterministic",
      oracle = s"""
        WITH tok AS (SELECT unnest($duckToks) AS token FROM documents),
        n AS (SELECT count(*) AS n_total FROM tok),
        c AS (SELECT token, count(*) AS n_occ FROM tok GROUP BY 1)
        SELECT token, CAST(n_occ AS BIGINT) AS n_occ,
               CAST(n_total AS BIGINT) AS n_total
        FROM c CROSS JOIN n WHERE n_occ * 10000 > 100 * n_total
        ORDER BY n_occ DESC, token""") { (s, dir) =>
      TextAnalysis.heavyTokens(Tables.load(s, dir, "documents"), "text",
        k = 99, minFreqBp = 100)
    },

    "text_heavy_ngrams" -> QueryDef(
      doc = "exact heavy-hitter word bigrams (>0.15% of the gram stream) via the Misra-Gries route — the case where the sketch genuinely matters: n-gram cardinality grows superlinearly with the corpus, so the naive groupBy exchange is corpus-sized while this one stays <= k counters per partition; at sf0.01 the 667-counter sketch really decrements (916 distinct bigrams)",
      oracle = s"""
        WITH w AS (SELECT $duckToks AS ws FROM documents),
        g AS (SELECT ws[i] || ' ' || ws[i+1] AS gram
              FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM w WHERE len(ws) >= 2)),
        n AS (SELECT count(*) AS n_total FROM g),
        c AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY 1)
        SELECT gram, CAST(n_occ AS BIGINT) AS n_occ,
               CAST(n_total AS BIGINT) AS n_total
        FROM c CROSS JOIN n WHERE n_occ * 10000 > 15 * n_total
        ORDER BY n_occ DESC, gram""") { (s, dir) =>
      TextAnalysis.heavyNgrams(Tables.load(s, dir, "documents"), "text",
        n = 2, k = 667, minFreqBp = 15)
    },

    "dedup_substring" -> QueryDef(
      doc = "maximal duplicated-substring spans (ExactSubstr flavor, 8-token windows): hashed slide-windows, repeated-hash agg + join back, per-doc interval merge — the verbatim-repetition ranges a removal pass would cut",
      oracle = s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        w AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS p, toks
              FROM t WHERE len(toks) >= 8),
        h AS (SELECT doc_id, p,
                     ('0x' || substr(md5(array_to_string(toks[p:p+7], ' ')), 1, 15))::BIGINT AS hv,
                     ('0x' || substr(md5(array_to_string(toks[p:p+7], ' ')), 17, 15))::BIGINT AS hv2
              FROM w),
        d AS (SELECT doc_id, p FROM
                (SELECT doc_id, p, count(*) OVER (PARTITION BY hv, hv2) AS c FROM h)
              WHERE c > 1),
        g AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                            OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 8
                          THEN 1 ELSE 0 END AS nf
              FROM d),
        s AS (SELECT doc_id, p, sum(nf) OVER (PARTITION BY doc_id ORDER BY p
                ROWS UNBOUNDED PRECEDING) AS grp
              FROM g)
        SELECT doc_id,
               CAST(min(p) - 1 AS BIGINT) AS span_start,
               CAST(max(p) + 6 AS BIGINT) AS span_end,
               CAST(max(p) + 6 - (min(p) - 1) + 1 AS BIGINT) AS n_tokens,
               count(*) AS n_windows
        FROM s GROUP BY doc_id, grp""") { (s, dir) =>
      Dedup.duplicatedSubstringSpans(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 8)
    },

    "sample_stratified" -> QueryDef(
      doc = "deterministic hash-stratified sampling: keep 50% of 'en' docs, 10% of everything else — md5-bucketed, so reruns and other engines reproduce the exact sample",
      oracle = """
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 <
              CASE WHEN lang = 'en' THEN 5000 ELSE 1000 END""") { (s, dir) =>
      Sampling.stratified(Tables.load(s, dir, "documents"),
          idCol = "doc_id", strataCol = "lang",
          fractions = Map("en" -> 0.5), defaultFraction = 0.1)
        .select("doc_id", "lang")
    },

    "sample_weighted" -> QueryDef(
      doc = "deterministic per-row weighted sampling: keep probability ∝ doc length (clamped to [0,1]) — md5-bucketed like the stratified sampler, so reruns and other engines reproduce the exact sample",
      oracle = """
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 <
              CAST(round(least(greatest(n_chars / 2000.0, 0), 1) * 10000) AS BIGINT)""") { (s, dir) =>
      Sampling.weighted(
          Tables.load(s, dir, "documents")
            .withColumn("w", col("n_chars") / 2000.0),
          idCol = "doc_id", weightCol = "w")
        .select("doc_id", "lang")
    },

    "corpus_drift" -> QueryDef(
      doc = "distribution drift per source: Jensen-Shannon divergence of each source's token distribution vs the corpus-wide one (new-crawl sanity check) — token counts shuffle once; the term grid is groups × vocab, model-sized",
      oracle = """
        WITH tok AS (SELECT source AS grp, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
                     FROM documents),
        c AS (SELECT grp, token, count(*) AS c FROM tok GROUP BY 1, 2),
        ct AS (SELECT token, sum(c) AS ct FROM c GROUP BY 1),
        ng AS (SELECT grp, sum(c) AS ng FROM c GROUP BY 1),
        n AS (SELECT sum(c) AS n FROM c),
        grid AS (SELECT g.grp, g.ng, t.token, t.ct, coalesce(cc.c, 0) AS c
                 FROM ng g CROSS JOIN ct t
                 LEFT JOIN c cc ON cc.grp = g.grp AND cc.token = t.token),
        terms AS (SELECT grp, ng,
                         0.5 * (CASE WHEN c > 0
                                     THEN (c * 1.0 / ng) * ln((c * 1.0 / ng) / ((c * 1.0 / ng + ct * 1.0 / n) / 2))
                                     ELSE 0 END
                                + (ct * 1.0 / n) * ln((ct * 1.0 / n) / ((c * 1.0 / ng + ct * 1.0 / n) / 2))) AS t
                  FROM grid CROSS JOIN n)
        SELECT grp AS source, CAST(any_value(ng) AS BIGINT) AS n_tokens,
               round(sum(t), 4) AS jsd
        FROM terms GROUP BY grp""") { (s, dir) =>
      TextAnalysis.distributionDrift(Tables.load(s, dir, "documents"),
        groupCol = "source", textCol = "text")
    },

    "embedding_centroids" -> QueryDef(
      doc = "per-label embedding centroids (long format): posexplode → one (label, dim) aggregation, map-side partial sums — classifier init / per-domain embedding / drift primitive",
      oracle = """
        WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        x AS (SELECT label, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM e)
        SELECT CAST(label AS INTEGER) AS label, CAST(dim AS INTEGER) AS dim,
               round(avg(x), 4) AS centroid,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM x GROUP BY 1, 2""") { (s, dir) =>
      Similarity.labelCentroids(Tables.load(s, dir, "embeddings"),
        labelCol = "label", vecCol = "embedding")
    },

    "corpus_profile" -> QueryDef(
      doc = "data profiling: per-column row/null/distinct counts and string-order min/max in ONE aggregation pass (the validation gate a pipeline runs on every corpus drop; exact distinct via Expand here, HLL variant for 100 TB)",
      oracle = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
               min(CAST($c AS VARCHAR)) AS min_value,
               max(CAST($c AS VARCHAR)) AS max_value
        FROM documents"""
      }.mkString(" UNION ALL ")) { (s, dir) =>
      graft.operators.Profile.profile(Tables.load(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
    },

    "sample_per_stratum" -> QueryDef(
      doc = "fixed-size per-stratum sample: the 20 docs per language with the smallest seeded md5 shuffle keys — exact per-group counts (eval sets, per-source caps), seeded + engine-reproducible",
      oracle = """
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5('bal1:' || CAST(doc_id AS VARCHAR))) AS rk
          FROM documents) WHERE rk <= 20""") { (s, dir) =>
      Sampling.fixedPerStratum(Tables.load(s, dir, "documents"),
          idCol = "doc_id", strataCol = "lang", n = 20, seed = "bal1")
        .select("doc_id", "lang")
    },

    "corpus_split" -> QueryDef(
      doc = "deterministic train/valid/test split (80/10/10): the label is a pure function of the id — reproducible anywhere, stable under corpus growth (new docs never move old docs between splits, unlike randomSplit); zero exchanges",
      oracle = """
        SELECT doc_id,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9000 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents""") { (s, dir) =>
      Sampling.split(Tables.load(s, dir, "documents"), idCol = "doc_id",
          fractions = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    },

    "split_leakage_guard" -> QueryDef(
      doc = "dedup-aware split: 80/10/10 deterministic split, then train docs Jaccard-≥0.5 near a valid/test doc are quarantined (banded MinHash cross-pairs train×holdout + exact verification — never a within-train scan); holdout never moves, leaked docs stay auditable",
      oracle = s"""
        WITH $duckShingles,
        spl AS (SELECT doc_id,
                       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
                            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9000 THEN 'valid'
                            ELSE 'test' END AS split
                FROM documents),
        sz AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
        inter AS (SELECT a.doc AS da, b.doc AS db, count(*) AS i
                  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc <> b.doc
                  GROUP BY 1, 2),
        leak AS (SELECT DISTINCT i.da AS doc_id
                 FROM inter i
                 JOIN spl pa ON pa.doc_id = i.da
                 JOIN spl pb ON pb.doc_id = i.db
                 JOIN sz sa ON sa.doc = i.da
                 JOIN sz sb ON sb.doc = i.db
                 WHERE pa.split = 'train' AND pb.split <> 'train'
                   AND round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) >= 0.5)
        SELECT s.doc_id,
               CASE WHEN l.doc_id IS NOT NULL THEN 'quarantined' ELSE s.split END AS split
        FROM spl s LEFT JOIN leak l ON s.doc_id = l.doc_id""") { (s, dir) =>
      Sampling.splitLeakageGuard(Tables.load(s, dir, "documents"),
        "doc_id", "text",
        fractions = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    },

    "corpus_snapshot_diff" -> QueryDef(
      doc = "snapshot diff between two corpus versions (old = docs 50-449 with 100-149's text uppercased; new = docs 100-499): (doc_id, added|removed|modified|unchanged) by id + content hash — the release-audit surface, and the delta source when upstream ships full snapshots; one id-keyed full-outer join of (id, md5) projections",
      oracle = """
        WITH o AS (SELECT doc_id, md5(CASE WHEN doc_id BETWEEN 100 AND 149
                                           THEN upper(text) ELSE text END) AS oh
                   FROM documents WHERE doc_id >= 50 AND doc_id < 450),
        c AS (SELECT doc_id, md5(text) AS ch
              FROM documents WHERE doc_id >= 100),
        j AS (SELECT coalesce(o.doc_id, c.doc_id) AS doc_id, oh, ch
              FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id)
        SELECT doc_id,
               CASE WHEN oh IS NULL THEN 'added'
                    WHEN ch IS NULL THEN 'removed'
                    WHEN oh <> ch THEN 'modified'
                    ELSE 'unchanged' END AS status
        FROM j""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val old = d.filter(col("doc_id") >= 50 && col("doc_id") < 450)
        .withColumn("text", when(col("doc_id").between(100, 149),
          upper(col("text"))).otherwise(col("text")))
      val cur = d.filter(col("doc_id") >= 100)
      graft.operators.Incremental.snapshotDiff(old, cur, "doc_id", "text")
    },

    "corpus_unimax" -> QueryDef(
      doc = "UniMax budget allocation: spend a 12000-token budget as uniformly as possible across sources, no source repeated past 0.5 epochs (ascending-capacity waterfill — small domains cap out, freed budget spreads over the rest; one domain agg + a driver walk over the model-sized domain list)",
      oracle = """
        WITH RECURSIVE caps AS (
          SELECT source AS domain,
                 CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        ord AS (SELECT domain, n_tokens, n_tokens * 0.5 AS capacity,
                       row_number() OVER (ORDER BY n_tokens * 0.5, domain) AS rn,
                       count(*) OVER () AS n
                FROM caps),
        walk AS (
          SELECT CAST(0 AS BIGINT) AS rn, CAST(12000 AS DOUBLE) AS rem
          UNION ALL
          SELECT o.rn, w.rem - LEAST(o.capacity, w.rem / (o.n - w.rn))
          FROM walk w JOIN ord o ON o.rn = w.rn + 1),
        alloc AS (
          SELECT o.domain, o.n_tokens, o.capacity,
                 LEAST(o.capacity, w.rem / (o.n - w.rn)) AS alloc
          FROM ord o JOIN walk w ON w.rn = o.rn - 1)
        SELECT domain, n_tokens, round(capacity, 4) AS capacity,
               round(alloc, 4) AS alloc_tokens,
               round(alloc / n_tokens, 4) AS epochs
        FROM alloc""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Sampling.unimaxAllocation(d, "source",
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long"),
        budget = 12000.0, maxEpochs = 0.5)
    },

    "corpus_topics" -> QueryDef.noOracle(
      doc = "corpus topic map (cartography): hashed doc vectors → 8 spherical k-means cells → top-5 TF-IDF terms per topic, one row per (topic, n_docs, term, rank, score) — k-means is iterative, not SQL-expressible → rows-only; partition/rank/order invariants hash-gated in corpus_topics_gate") { (s, dir) =>
      TextAnalysis.corpusTopics(Tables.load(s, dir, "documents"),
        "doc_id", "text", nTopics = 8, topTerms = 5)
    },

    "corpus_topics_gate" -> QueryDef(
      doc = "topic-map invariant gate (k-means not SQL-expressible — the text_bpe_gate pattern): topic sizes sum to the embedded-doc count (every doc in exactly one topic), ranks are contiguous 1..topTerms per topic, scores non-increasing in rank; term membership holds by construction (terms come from the topic's own docs' tf-idf join)",
      oracle = "SELECT CAST(1 AS INTEGER) AS partition_ok, CAST(1 AS INTEGER) AS ranks_ok, CAST(1 AS INTEGER) AS order_ok") { (s, dir) =>
      // deterministic 1-in-3 SLICE (the layout_pointindex_gate diet):
      // the gate pins ALGORITHM invariants — partition sums, rank
      // contiguity, score monotonicity — which are corpus-size-free,
      // while the full-corpus re-fit made the corpus_topics PAIR the
      // single most expensive block of the round-10 driver run (22s
      // of 406s); the full-size fit cost stays measured by
      // corpus_topics itself
      val d = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
      // embed ONCE and share the persisted frame between the topic
      // fit and the doc count — the previous second hashEmbedDense
      // call relied on CacheManager plan-matching to avoid a full
      // re-embed, which is a hope, not a contract (round-8 floor
      // adjudication measured it 2-3x adrift)
      val vecs = TextAnalysis.hashEmbedDense(d, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val topics = TextAnalysis.corpusTopicsFromVecs(d, vecs,
        "doc_id", "text", nTopics = 8, topTerms = 5).localCheckpoint(true)
      val nEmbedded = vecs.count()
      vecs.unpersist()
      val perTopic = topics.groupBy("topic").agg(
        first(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_terms"),
        max(col("rank")).as("max_rank"),
        min(col("rank")).as("min_rank"))
      val orderOk = topics.select(col("topic"), col("rank"), col("score"))
        .withColumn("prev", lag(col("score"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("topic").orderBy("rank")))
        .agg(coalesce(min((col("prev").isNull ||
          col("prev") >= col("score")).cast("int")), lit(1)).as("order_ok"))
      val partitionOk = perTopic.agg(
        ((sum(col("n_docs")) === nEmbedded) &&
          (count(lit(1)) <= 8)).cast("int").as("partition_ok"))
      val ranksOk = perTopic.agg(coalesce(min(
        ((col("min_rank") === 1) && (col("max_rank") === col("n_terms")))
          .cast("int")), lit(1)).as("ranks_ok"))
      partitionOk.crossJoin(ranksOk).crossJoin(orderOk)
    },

    "text_hash_embed" -> QueryDef(
      doc = "feature-hashed document embedding (hashing trick): token counts folded into 256 md5-derived buckets, L2-normalized per doc, long format — the model-free document vector; fixed bucket space, so state never grows with vocabulary",
      oracle = """
        WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
                     FROM documents),
        tf AS (SELECT doc_id,
                      ('0x' || substr(md5(token), 1, 8))::BIGINT % 256 AS bucket,
                      count(*) AS tf
               FROM tok GROUP BY 1, 2)
        SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
               CAST(tf AS BIGINT) AS tf,
               round(tf / sqrt(sum(tf * tf) OVER (PARTITION BY doc_id)), 4) AS weight
        FROM tf""") { (s, dir) =>
      TextAnalysis.hashEmbed(Tables.load(s, dir, "documents"),
        "doc_id", "text", buckets = 256)
    },

    "text_vocab" -> QueryDef(
      doc = "vocabulary builder: top-100 tokens by corpus occurrence count with document frequency and rank (ties by token) — one token aggregation + TakeOrdered; the rank window runs over the model-sized top slice only",
      oracle = """
        WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
                     FROM documents),
        c AS (SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
              FROM tok GROUP BY 1)
        SELECT token, CAST(n_occ AS BIGINT) AS n_occ,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INTEGER) AS rank
        FROM c ORDER BY n_occ DESC, token LIMIT 100""") { (s, dir) =>
      TextAnalysis.vocab(Tables.load(s, dir, "documents"),
        "doc_id", "text", topN = 100)
    },

    "text_encode" -> QueryDef(
      doc = "encode to vocab ids: tokens → rank of the top-50 vocab (unk=-1), long format for the oracle — the vocab collects as a model-sized literal map; the encode itself is a narrow codegen'd lookup, zero exchanges",
      oracle = """
        WITH tok0 AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
                      FROM documents),
        c AS (SELECT token, count(*) AS n_occ FROM tok0 GROUP BY 1),
        v AS (SELECT token, CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INTEGER) AS rank
              FROM c ORDER BY n_occ DESC, token LIMIT 50),
        w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        pos AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS token
                FROM w WHERE len(ws) > 0)
        SELECT p.doc_id, CAST(p.pos AS INTEGER) AS pos,
               CAST(coalesce(v.rank, -1) AS INTEGER) AS token_id
        FROM pos p LEFT JOIN v ON p.token = v.token""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val vocab = TextAnalysis.vocab(docs, "doc_id", "text", topN = 50)
      TextAnalysis.encode(docs, vocab, "doc_id", "text")
        .select(col("doc_id"), posexplode(col("token_ids")).as(Seq("p", "token_id")))
        .select(col("doc_id"), (col("p") + 1).cast("int").as("pos"),
          col("token_id"))
    },

    "pack_manifest" -> QueryDef(
      doc = "pack manifest: per context-window pack, the docs that start in it, their token volume, and id bounds — the loader-side index of the packing assignment",
      oracle = """
        WITH t AS (SELECT doc_id,
                          CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
                   FROM documents),
        c AS (SELECT doc_id, n,
                     sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
              FROM t),
        p AS (SELECT doc_id, n, (cum - n) // 512 AS pack_id FROM c)
        SELECT CAST(pack_id AS BIGINT) AS pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS sum_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM p GROUP BY 1""") { (s, dir) =>
      graft.operators.Packing.packSequences(
          Tables.load(s, dir, "documents"), "doc_id", "text", budget = 512)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    },

    "corpus_shards" -> QueryDef(
      doc = "deterministic global shuffle + sharding (the training-export step): seeded md5 shuffle key, 8 shards; per-shard row/char totals and key-range bounds prove assignment AND order are engine-reproducible",
      oracle = """
        WITH s AS (SELECT n_chars,
                          ('0x' || substr(md5('train1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
                          md5('train1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
                   FROM documents)
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(shuffle_key) AS first_key,
               max(shuffle_key) AS last_key
        FROM s GROUP BY 1""") { (s, dir) =>
      Sampling.shuffleShards(Tables.load(s, dir, "documents"),
          idCol = "doc_id", seed = "train1", numShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("shuffle_key")).as("first_key"),
          max(col("shuffle_key")).as("last_key"))
    },

    "text_diversity" -> QueryDef(
      doc = "repetition filters: character Shannon entropy (ln n − Σc·ln c / n) + distinct-token ratio — catches generated/boilerplate text that length gates miss",
      oracle = s"""
        WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
                    FROM documents),
        cc AS (SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY doc_id, c),
        ent AS (SELECT doc_id,
                       round(ln(sum(n) * 1.0) - sum(n * ln(n * 1.0)) / sum(n), 4) AS char_entropy
                FROM cc GROUP BY doc_id),
        tok AS (SELECT doc_id, $duckToks AS toks FROM documents)
        SELECT t.doc_id,
               CASE WHEN len(toks) = 0 THEN NULL
                    ELSE round(len(list_distinct(toks)) * 1.0 / len(toks), 4)
               END AS distinct_token_ratio,
               e.char_entropy
        FROM tok t LEFT JOIN ent e ON t.doc_id = e.doc_id""") { (s, dir) =>
      TextAnalysis.diversityFeatures(
        Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    "text_repetition" -> QueryDef(
      doc = "Gopher-style repetition signals: top / duplicated word and 2-gram occurrence counts and char masses per doc — Spark computes them row-locally (sort_array + aggregate fold, zero exchanges); the oracle's explode+groupBy is the formulation that does NOT survive 100 TB",
      oracle = """
        WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                   FROM documents),
        wu AS (SELECT doc_id, unnest(ws) AS word FROM w),
        wc AS (SELECT doc_id, word, count(*) AS c FROM wu GROUP BY 1, 2),
        wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS word_count,
                          CAST(max(c) AS BIGINT) AS top_word_n,
                          CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_word_n
                   FROM wc GROUP BY 1),
        gu AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram
               FROM w WHERE len(ws) >= 2),
        gc AS (SELECT doc_id, gram, count(*) AS c FROM gu GROUP BY 1, 2),
        gstats AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top2_n,
                          CAST(max(c * length(gram)) AS BIGINT) AS top2_mass,
                          CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup2_n,
                          CAST(sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS BIGINT) AS dup2_mass
                   FROM gc GROUP BY 1)
        SELECT d.doc_id,
               CAST(coalesce(w.word_count, 0) AS BIGINT) AS word_count,
               CAST(coalesce(w.top_word_n, 0) AS BIGINT) AS top_word_n,
               CAST(coalesce(w.dup_word_n, 0) AS BIGINT) AS dup_word_n,
               CAST(coalesce(g.top2_n, 0) AS BIGINT) AS top2_n,
               CAST(coalesce(g.top2_mass, 0) AS BIGINT) AS top2_mass,
               CAST(coalesce(g.dup2_n, 0) AS BIGINT) AS dup2_n,
               CAST(coalesce(g.dup2_mass, 0) AS BIGINT) AS dup2_mass
        FROM documents d
        LEFT JOIN wstats w ON d.doc_id = w.doc_id
        LEFT JOIN gstats g ON d.doc_id = g.doc_id""") { (s, dir) =>
      TextAnalysis.repetitionSignals(
        Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    "dedup_spans" -> QueryDef(
      doc = "C4-style span-level dedup: 10-word pieces kept only at their globally-first occurrence (min doc,pos), docs reassembled — removes repeated boilerplate inside otherwise-unique docs; first-occurrence via agg+join-back (map-side combine absorbs hot spans; a row_number window could not be skew-split)",
      oracle = """
        WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                   FROM documents),
        g AS (SELECT doc_id, ws,
                     unnest(generate_series(0, CAST(ceil(len(ws) / 10.0) AS INTEGER) - 1)) AS pos
              FROM w WHERE len(ws) > 0),
        sp AS (SELECT doc_id, pos,
                      array_to_string(ws[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS span
               FROM g),
        k AS (SELECT doc_id, pos, span,
                     row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1 AS kept
              FROM sp)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               coalesce(string_agg(CASE WHEN kept THEN span END, ' ' ORDER BY pos), '') AS dedup_text
        FROM k GROUP BY doc_id""") { (s, dir) =>
      Dedup.spanDedup(Tables.load(s, dir, "documents"),
        "doc_id", "text", span = 10)
    },

    "text_redact_pii" -> QueryDef(
      doc = "PII redaction: emails / IPv4s / phone numbers → typed placeholders, plus a match-count audit column — deterministic PII is appended to each doc so the patterns demonstrably fire; pure narrow regexp chain, zero exchanges",
      oracle = {
        val raw = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@mail.example or +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
          "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'"
        s"""
        WITH r AS (SELECT doc_id, $raw AS raw FROM documents)
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(raw, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
                   '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
                 '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted,
               CAST(len(regexp_extract_all(raw,
                 '${TextAnalysis.EmailRe}|${TextAnalysis.Ipv4Re}|${TextAnalysis.PhoneRe}')) AS INTEGER) AS n_pii
        FROM r"""
      }) { (s, dir) =>
      val raw = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example or +1 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".1"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), raw.as("__raw"))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("__raw")).as("redacted"),
          TextAnalysis.piiCount(col("__raw")).as("n_pii"))
    },

    "text_chunk" -> QueryDef(
      doc = "sliding-window chunking: 64-token windows every 48 tokens (overlapping context-window prep) — tokenize + slice, entirely narrow, zero exchanges",
      oracle = """
        WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                   FROM documents),
        g AS (SELECT doc_id, ws,
                     unnest(generate_series(0, (len(ws) - 1) // 48)) AS i
              FROM w WHERE len(ws) > 0)
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
               array_to_string(ws[(i * 48 + 1):(i * 48 + 64)], ' ') AS chunk_text,
               CAST(least(64, len(ws) - i * 48) AS INTEGER) AS n_tokens
        FROM g""") { (s, dir) =>
      TextAnalysis.chunk(Tables.load(s, dir, "documents"),
        "doc_id", "text", chunkSize = 64, stride = 48)
    },

    "text_lm_score" -> QueryDef(
      doc = "bigram-LM fluency scoring: add-0.5-smoothed bigram model trained on the corpus, per-doc mean log-prob + perplexity (the KenLM-filter shape with the model kept inside the engine — two grouped counts, model joins, one doc agg)",
      oracle = """
        WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                   FROM documents),
        bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                     FROM t WHERE len(ws) >= 2)),
        cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        cg AS (SELECT w1, count(*) AS cg FROM bg GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(ws) AS w FROM t)),
        sc AS (SELECT g.doc_id,
                      ln((cb.cb + 0.5) / (cg.cg + 0.5 * v.v)) AS ll
               FROM bg g
               JOIN cb ON g.w1 = cb.w1 AND g.w2 = cb.w2
               JOIN cg ON g.w1 = cg.w1
               CROSS JOIN v)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ll), 4) AS avg_logprob,
               round(exp(-avg(ll)), 4) AS ppl
        FROM sc GROUP BY doc_id""") { (s, dir) =>
      TextAnalysis.lmScore(Tables.load(s, dir, "documents"),
        "doc_id", "text", addK = 0.5)
    },

    "corpus_calibrate" -> QueryDef(
      doc = "equi-depth score calibration: LM fluency score → 10 population-balanced bins (bin = ((rank-1)*10) div n + 1 over the (score, id) total order) with per-bin count and score range — the threshold table curation reads",
      oracle = """
        WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                   FROM documents),
        bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                     FROM t WHERE len(ws) >= 2)),
        cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        cg AS (SELECT w1, count(*) AS cg FROM bg GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(ws) AS w FROM t)),
        sc AS (SELECT g.doc_id,
                      ln((cb.cb + 0.5) / (cg.cg + 0.5 * v.v)) AS ll
               FROM bg g
               JOIN cb ON g.w1 = cb.w1 AND g.w2 = cb.w2
               JOIN cg ON g.w1 = cg.w1
               CROSS JOIN v),
        scored AS (SELECT doc_id, round(avg(ll), 4) AS s
                   FROM sc GROUP BY doc_id),
        r AS (SELECT doc_id, s,
                     row_number() OVER (ORDER BY s, doc_id) AS rk,
                     count(*) OVER () AS n
              FROM scored)
        SELECT CAST(((rk - 1) * 10) // n + 1 AS INTEGER) AS bin,
               count(*) AS n_docs,
               round(min(s), 4) AS lo,
               round(max(s), 4) AS hi
        FROM r GROUP BY 1""") { (s, dir) =>
      val scored = TextAnalysis.lmScore(Tables.load(s, dir, "documents"),
          "doc_id", "text", addK = 0.5)
        .select(col("doc_id"), col("avg_logprob"))
      graft.operators.Calibrate.equiDepthBins(scored, "doc_id", "avg_logprob", 10)
    },

    "text_lm_kn" -> QueryDef(
      doc = "interpolated Kneser-Ney bigram scoring (the KenLM smoothing): discounted seen mass + continuation-probability redistribution, every model term an integer aggregate of the one bigram-count table; fixed formula shape is engine-exact, 4dp scores hash-match",
      oracle = """
        WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                   FROM documents),
        bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                     FROM t WHERE len(ws) >= 2)),
        cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        cg AS (SELECT w1, sum(cb) AS cg FROM cb GROUP BY 1),
        fwd AS (SELECT w1, count(*) AS f FROM cb GROUP BY 1),
        back AS (SELECT w2, count(*) AS bk FROM cb GROUP BY 1),
        tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM cb),
        sc AS (SELECT g.doc_id,
                      ln((greatest(cb.cb - 0.75, 0.0) +
                          0.75 * fwd.f * (back.bk / tt.t)) / cg.cg) AS ll
               FROM bg g
               JOIN cb ON g.w1 = cb.w1 AND g.w2 = cb.w2
               JOIN cg ON g.w1 = cg.w1
               JOIN fwd ON g.w1 = fwd.w1
               JOIN back ON g.w2 = back.w2
               CROSS JOIN tt)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ll), 4) AS avg_logprob,
               round(exp(-avg(ll)), 4) AS ppl
        FROM sc GROUP BY doc_id""") { (s, dir) =>
      TextAnalysis.lmScoreKN(Tables.load(s, dir, "documents"),
        "doc_id", "text")
    },

    "multimodal_features" -> QueryDef(
      doc = "binary media plumbing: bytes → mapPartitions decode (stubbed codec) → typed feature table",
      oracle = """
        SELECT doc_id, CAST(length(text) AS INTEGER) AS n_bytes,
               lower(hex(substr(text, 1, 4))) AS header_hex,
               md5(text) AS content_md5
        FROM documents""") { (s, dir) =>
      Multimodal.featureTable(s, Tables.load(s, dir, "documents"))
    },

    "text_bpe_vocab" -> QueryDef(
      doc = "frequency-selected subword vocabulary: top-200 substrings (len 1-6) of pre-tokenized words by corpus occurrence — the substring enumeration runs over the model-sized distinct-word histogram; the corpus pays one word-count shuffle",
      oracle = s"WITH $duckSubwordVocab SELECT token, CAST(n_occ AS BIGINT) AS n_occ, id FROM v") {
      (s, dir) =>
        Bpe.subwordVocab(Tables.load(s, dir, "documents"), "text",
          topK = 200, maxPieceLen = 6)
    },

    "text_bpe_encode" -> QueryDef(
      doc = "greedy longest-match subword encode (the matcher BPE-trained vocabs ship through, hash-verified here against the SQL-derivable frequency vocab): per doc, (pos, piece, token_id); unseen chars → unk=-1. Narrow codegen'd pass; the oracle replays the walk as a recursive CTE",
      oracle = s"""
        WITH RECURSIVE $duckSubwordVocab,
        $duckPieceWalk
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, p) AS INTEGER) AS pos,
               piece, CAST(coalesce(v.id, -1) AS INTEGER) AS token_id
        FROM (SELECT doc_id, wi, p, piece FROM walk WHERE piece IS NOT NULL) s
        LEFT JOIN v ON s.piece = v.token""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Bpe.encodePieces(docs,
        Bpe.subwordVocab(docs, "text", topK = 200, maxPieceLen = 6)
          .localCheckpoint(true),
        "doc_id", "text")
    },

    "pack_sequences_bpe" -> QueryDef(
      doc = "sequence packing budgeted in SUBWORD pieces (256/pack) — the token accounting a real pre-training pipeline packs by; same two-phase distributed prefix sum as pack_sequences, only the counting column changes",
      oracle = s"""
        WITH RECURSIVE $duckSubwordVocab,
        $duckPieceWalk,
        cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                FROM walk WHERE piece IS NOT NULL GROUP BY 1),
        t AS (SELECT d.doc_id, coalesce(c.n, 0) AS n
              FROM documents d LEFT JOIN cnt c USING (doc_id)),
        c2 AS (SELECT doc_id, n,
                      sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
               FROM t)
        SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
               CAST((cum - n) // 256 AS BIGINT) AS pack_id,
               CAST((cum - n) % 256 AS BIGINT) AS pack_offset
        FROM c2""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val vocab = Bpe.subwordVocab(docs, "text", topK = 200, maxPieceLen = 6)
        .select(col("token"))
        .collect() // collect-bound: subwordVocab caps at topK rows
        .map(_.getString(0)).toSeq
      graft.operators.Packing.packSequences(docs, "doc_id", "text",
        budget = 256, tokenCount = t => Bpe.pieceCount(t, vocab, 6))
    },

    "ann_drift_gate" -> QueryDef(
      doc = "ANN index staleness gate on the serving path: deterministic delta-sampled recall@5 of the persisted IVF index vs brute force — a stationary delta must NOT trip it (drift-injection flip is SimilaritySpec's deterministic-geometry case)",
      oracle = """
        SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
               CAST(5 AS INTEGER) AS k, false AS stale""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val delta = e.filter(col("vec_id") < 10)
      val centroids = Similarity.trainCentroids(corpus, "vec_id", "embedding",
        nCentroids = 16)
      val index = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
        .localCheckpoint(true)
      Similarity.indexDriftGate(e, delta, "vec_id", "embedding",
          k = 5, minRecall = 0.5, sampleN = 10) { q =>
        Similarity.ivfTopKFromIndex(index, centroids, q,
          "vec_id", "embedding", k = 5, nProbe = 8)
      }.drop("recall") // recall's exact value is approximate-path-specific
    },

    "text_bpe_fertility" -> QueryDef(
      doc = "tokenizer fitness gate: fertility (pieces/word) and single-piece coverage of the frozen subword vocab — the retrain-time signal for a served tokenizer (rises as the corpus drifts); oracle replays the per-word walk",
      oracle = s"""
        WITH RECURSIVE $duckSubwordVocab,
        $duckPieceWalk,
        pw AS (SELECT doc_id, wi, count(*) AS np
               FROM walk WHERE p <= length(word) GROUP BY 1, 2)
        SELECT CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(np) AS BIGINT) AS n_pieces,
               round(sum(np) * 1.0 / count(*), 4) AS fertility,
               round(sum(CASE WHEN np = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
                 AS single_piece_ratio
        FROM pw""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val vocab = Bpe.subwordVocab(docs, "text", topK = 200, maxPieceLen = 6)
        .select(col("token"))
        .collect() // collect-bound: subwordVocab caps at topK rows
        .map(_.getString(0)).toSeq
      Bpe.fertility(docs, "text", vocab, 6)
    },

    "text_chunk_bpe" -> QueryDef(
      doc = "sliding-window chunking in SUBWORD tokens (32-piece windows every 24): the context-window prep a subword-budgeted pipeline runs; narrow tokenize+slice, zero exchanges — oracle replays the greedy walk then windows the piece sequence",
      oracle = s"""
        WITH RECURSIVE $duckSubwordVocab,
        $duckPieceWalk,
        pieces AS (SELECT doc_id, piece,
                          row_number() OVER (PARTITION BY doc_id ORDER BY wi, p) AS pos
                   FROM walk WHERE piece IS NOT NULL),
        n AS (SELECT doc_id, count(*) AS np FROM pieces GROUP BY 1),
        starts AS (SELECT doc_id,
                          unnest(generate_series(0, CAST(floor((np - 1) / 24.0) AS INTEGER))) AS cid
                   FROM n WHERE np > 0),
        w AS (SELECT s.doc_id, s.cid, p.pos, p.piece
              FROM starts s JOIN pieces p ON p.doc_id = s.doc_id
               AND p.pos > s.cid * 24 AND p.pos <= s.cid * 24 + 32)
        SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
               string_agg(piece, ' ' ORDER BY pos) AS chunk_text,
               CAST(count(*) AS INTEGER) AS n_tokens
        FROM w GROUP BY 1, 2""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val vocab = Bpe.subwordVocab(docs, "text", topK = 200, maxPieceLen = 6)
        .select(col("token"))
        .collect() // collect-bound: subwordVocab caps at topK rows
        .map(_.getString(0)).toSeq
      TextAnalysis.chunk(docs, "doc_id", "text",
        chunkSize = 32, stride = 24,
        tokensOf = t => Bpe.pieces(t, vocab, 6))
    },

    "text_bpe_gate" -> QueryDef(
      doc = "BPE trainer gate (the merge loop itself is driver-side over the model-sized word histogram, not SQL-expressible — same gate pattern as ann_recall_*): merge #1 must equal the SQL argmax over initial char-pair counts, every doc must round-trip through encode, nothing may hit unk on the training corpus, and the encoding must compress vs characters",
      oracle = s"""
        WITH w AS (SELECT unnest(regexp_extract_all(text, '$bpePreTokenRe')) AS word
                   FROM documents),
        wc AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
        pos AS (SELECT word, c, unnest(generate_series(1, length(word) - 1)) AS s
                FROM wc WHERE length(word) >= 2),
        pairs AS (SELECT substr(word, s, 1) AS l, substr(word, s + 1, 1) AS r,
                         sum(c) AS n
                  FROM pos GROUP BY 1, 2)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT l || '|' || r FROM pairs ORDER BY n DESC, l, r LIMIT 1)
                 AS first_merge,
               true AS all_roundtrip, true AS no_unk,
               true AS compresses""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = Bpe.train(docs, "text", numMerges = 200)
      val vocabArr = array(model.vocab.map(lit): _*)
      val p = Bpe.pieces(col("text"), model.vocab, model.maxPieceLen)
      val w = Bpe.preTokens(col("text"))
      docs.select(
          (array_join(p, "") === array_join(w, "")).as("__rt"),
          (size(filter(p, x => not(array_contains(vocabArr, x)))) === 0)
            .as("__known"),
          size(p).cast("long").as("__np"),
          length(array_join(w, "")).cast("long").as("__nc"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          expr("bool_and(__rt)").as("all_roundtrip"),
          expr("bool_and(__known)").as("no_unk"),
          (sum(col("__np")) < sum(col("__nc"))).as("compresses"))
        .withColumn("first_merge",
          lit(model.merges.head.left + "|" + model.merges.head.right))
    },

    "src_jsonl_roundtrip" -> QueryDef(
      doc = "JSONL ingest source (raw-crawl entry path): documents exported as json-lines, re-ingested through the schema-mandatory permissive reader with corrupt-record quarantine (empty here), must hash-match the parquet original — text+from_json, narrow per-line parse, splittable",
      oracle = """
        SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("jsonl_rt")
        .resolve("docs").toString
      graft.sources.JsonLines.write(docs, tmp)
      graft.sources.JsonLines.read(s, tmp,
        org.apache.spark.sql.types.StructType(docs.schema.fields.toSeq))
    },

    "text_unigram_roundtrip" -> QueryDef(
      doc = "unigram-LM (SentencePiece-style) tokenizer end-to-end: train by EM over the word histogram, Viterbi-encode every doc, reassemble the pieces — the reassembly must equal the pre-token stream character-for-character, which the oracle computes directly from the text (hash-verified through the whole train+decode path)",
      oracle = s"""
        SELECT doc_id,
               array_to_string(regexp_extract_all(text, '$bpePreTokenRe'), '')
                 AS reassembled
        FROM documents""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = Unigram.train(docs, "text")
      docs.select(col("doc_id"),
        array_join(Unigram.pieces(col("text"), model), "").as("reassembled"))
    },

    "text_unigram_gate" -> QueryDef(
      doc = "unigram trainer gate (EM is driver-side over the model-sized histogram, not SQL-expressible — the text_bpe_gate pattern): the top seed piece must equal the SQL argmax over substring occurrence counts, every doc must round-trip, nothing may hit unk on the training corpus, per-doc Viterbi likelihood must be >= greedy's under the SAME model (the decoder really is max-likelihood), and the piece distribution must normalize",
      oracle = s"""
        WITH $duckSubwordVocab
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT token FROM v WHERE id = 1) AS top_seed,
               true AS all_roundtrip, true AS no_unk,
               true AS viterbi_ge_greedy, true AS mass_ok""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // trainWithLikelihoods exposes the trainer's OWN seed argmax —
      // comparing Bpe.subwordVocab's would leave the unigram seed
      // enumeration unchecked (defaults mirrored explicitly)
      val (model, _, seedTop) = Unigram.trainWithLikelihoods(docs, "text",
        vocabSize = 120, seedSize = 400, maxPieceLen = 6, emIters = 6,
        maxWords = 65536)
      val vocab = model.pieces.map(_._1)
      val vocabArr = array(vocab.map(lit): _*)
      val lpMap = map(model.pieces.flatMap { case (t, p) =>
        Seq(lit(t), lit(p)) }.toIndexedSeq: _*)
      def score(pieces: org.apache.spark.sql.Column) =
        aggregate(pieces, lit(0.0), (acc, x) =>
          acc + coalesce(element_at(lpMap, x), lit(model.unkLogProb)))
      val vit = Unigram.pieces(col("text"), model)
      val greedy = Bpe.pieces(col("text"), vocab, model.maxPieceLen)
      val w = Bpe.preTokens(col("text"))
      val mass = model.pieces.iterator.map(p => math.exp(p._2)).sum
      docs.select(
          (array_join(vit, "") === array_join(w, "")).as("__rt"),
          (size(filter(vit, x => not(array_contains(vocabArr, x)))) === 0)
            .as("__known"),
          (score(vit) >= score(greedy) - lit(1e-9)).as("__ge"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          expr("bool_and(__rt)").as("all_roundtrip"),
          expr("bool_and(__known)").as("no_unk"),
          expr("bool_and(__ge)").as("viterbi_ge_greedy"))
        .withColumn("top_seed", lit(seedTop))
        .withColumn("mass_ok", lit(math.abs(mass - 1.0) < 1e-6))
    },

    "corpus_curriculum" -> QueryDef(
      doc = "curriculum ordering: quality phases (n_chars >= 300 / >= 150 / rest) first, seeded shuffle within each phase, 1-based global position = phase offsets + bucketed two-phase prefix rank (equivalent to one row_number per phase over the md5 key, which the oracle computes directly)",
      oracle = """
        WITH p AS (SELECT doc_id,
                          CASE WHEN n_chars >= 300 THEN 0
                               WHEN n_chars >= 150 THEN 1
                               ELSE 2 END AS phase,
                          md5('cur0:' || CAST(doc_id AS VARCHAR)) AS k
                   FROM documents),
        r AS (SELECT doc_id, phase,
                     row_number() OVER (PARTITION BY phase ORDER BY k) AS rn
              FROM p),
        sizes AS (SELECT phase, count(*) AS n FROM p GROUP BY phase),
        offs AS (SELECT phase,
                        coalesce(sum(n) OVER (ORDER BY phase
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS off
                 FROM sizes)
        SELECT r.doc_id, CAST(r.phase AS INTEGER) AS phase,
               CAST(o.off + r.rn AS BIGINT) AS curriculum_pos
        FROM r JOIN offs o ON o.phase = r.phase""") { (s, dir) =>
      graft.operators.Packing.curriculumOrder(
        Tables.load(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", thresholds = Seq(300.0, 150.0), seed = "cur0")
    },

    "corpus_temperature_mix" -> QueryDef(
      doc = "temperature mixture sampling (n^0.5 exponential smoothing, the multilingual-training mix): doc budget 300 split across sources by sqrt(size) — sqrt is IEEE-correctly-rounded so both engines compute identical quotas; selection is the seeded per-source shuffle-order prefix",
      oracle = """
        WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        w AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS w FROM sizes),
        q AS (SELECT source,
                     CAST(floor(300 * w / (SELECT sum(w) FROM w)) AS BIGINT)
                       AS quota
              FROM w),
        keyed AS (SELECT doc_id, source,
                         md5('tmix0:' || CAST(doc_id AS VARCHAR)) AS k
                  FROM documents),
        ranked AS (SELECT doc_id, source,
                          row_number() OVER (PARTITION BY source ORDER BY k)
                            AS rn
                   FROM keyed)
        SELECT r.doc_id, r.source FROM ranked r
        JOIN q ON q.source = r.source WHERE r.rn <= q.quota""") { (s, dir) =>
      Sampling.temperatureMix(
        Tables.load(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", alpha = 0.5, budget = 300L, seed = "tmix0")
    },

    "text_textrank" -> QueryDef(
      doc = "TextRank keyword centrality (Mihalcea & Tarau 2004): weighted PageRank over the corpus adjacency co-occurrence graph, 10 unrolled iterations, damping 0.85 — the oracle replays the identical iteration as a chained-CTE unroll; damping is a contraction, so cross-engine float-order drift shrinks per round and the 4dp ranks hash-match",
      oracle = {
        val base = s"""
        WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
        idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS g
                FROM t WHERE len(w) >= 2),
        dpair AS (SELECT w[g] AS u, w[g+1] AS v FROM idx WHERE w[g] <> w[g+1]),
        und AS (SELECT u, v FROM dpair UNION ALL SELECT v AS u, u AS v FROM dpair),
        e AS (SELECT u, v, CAST(count(*) AS DOUBLE) AS wt FROM und
              GROUP BY u, v HAVING count(*) >= 3),
        deg AS (SELECT u, sum(wt) AS wd FROM e GROUP BY u),
        n0 AS (SELECT DISTINCT u AS node FROM e),
        pr0 AS (SELECT node, 1.0 AS r FROM n0)"""
        val iterations = (1 to 10).map { k =>
          s"""
        pr$k AS (SELECT n.node,
              (1 - 0.85) + 0.85 * coalesce(s.x, 0) AS r
            FROM n0 n LEFT JOIN (
              SELECT e.v AS node, sum(p.r / d.wd * e.wt) AS x
              FROM e JOIN pr${k - 1} p ON p.node = e.u
                     JOIN deg d ON d.u = e.u
              GROUP BY e.v) s ON s.node = n.node)"""
        }.mkString(",")
        s"""$base,$iterations
        SELECT node AS token, round(r, 4) AS tr_score FROM pr10"""
      }) { (s, dir) =>
      TextAnalysis.textrank(Tables.load(s, dir, "documents"),
        "doc_id", "text", minWeight = 3L, iters = 10, damping = 0.85)
    },

    "layout_zorder" -> QueryDef(
      doc = "Z-order (Morton) clustering key over (o_custkey, o_totalprice): quantize each dim to 8 bits against driver-collected bounds, interleave the bits — the multi-dim data-layout key zorderWrite range-partitions on so parquet min/max pruning serves predicates on either dimension; oracle replays quantization + interleave in SQL (hash-verified)",
      oracle = {
        val terms = (for {
          (b, i) <- Seq("bk", "bp").zipWithIndex
          bit <- 0 until 8
        } yield s"((($b >> $bit) & 1) << ${bit * 2 + i})").mkString(" | ")
        s"""
        WITH s AS (SELECT min(CAST(o_custkey AS DOUBLE)) AS k0,
                          max(CAST(o_custkey AS DOUBLE)) AS k1,
                          min(CAST(o_totalprice AS DOUBLE)) AS p0,
                          max(CAST(o_totalprice AS DOUBLE)) AS p1
                   FROM orders),
        q AS (SELECT o_orderkey,
            CAST(least(greatest(floor((CAST(o_custkey AS DOUBLE) - k0)
              / (k1 - k0) * 256.0), 0), 255) AS BIGINT) AS bk,
            CAST(least(greatest(floor((CAST(o_totalprice AS DOUBLE) - p0)
              / (p1 - p0) * 256.0), 0), 255) AS BIGINT) AS bp
          FROM orders, s)
        SELECT o_orderkey, CAST($terms AS BIGINT) AS zval FROM q"""
      }) { (s, dir) =>
      import graft.operators.Layout
      Layout.zorder(
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq("o_custkey", "o_totalprice"), bits = 8)
        .select("o_orderkey", "zval")
    },

    "layout_hilbert" -> QueryDef(
      doc = "Hilbert-curve clustering key over (o_custkey, o_totalprice) at 8 bits - the stronger 2-D sibling of layout_zorder (the Delta liquid-clustering trade): the curve visits the 256x256 grid through ADJACENT cells only, so consecutive index ranges are compact blobs rather than Morton's corner-jumping Z shapes and file boxes come out tighter on both dimensions; engine side is the classic per-level rotate-and-accumulate unrolled as a CHAINED PROJECTION (linear codegen, one fused integer pass), and the oracle replays the IDENTICAL per-level chain as generated CTEs - generated from the same Scala loop, so the engines cannot drift; bijectivity and pruning are gate/spec-pinned",
      oracle = {
        val chain = graft.operators.Layout.hilbertOracleCtes(
          "src", Seq("o_orderkey"), bits = 8)
        s"""
        WITH s AS (SELECT min(CAST(o_custkey AS DOUBLE)) AS k0,
                          max(CAST(o_custkey AS DOUBLE)) AS k1,
                          min(CAST(o_totalprice AS DOUBLE)) AS p0,
                          max(CAST(o_totalprice AS DOUBLE)) AS p1
                   FROM orders),
        src AS (SELECT o_orderkey,
            CAST(least(greatest(floor((CAST(o_custkey AS DOUBLE) - k0)
              / (k1 - k0) * 256.0), 0), 255) AS BIGINT) AS hx,
            CAST(least(greatest(floor((CAST(o_totalprice AS DOUBLE) - p0)
              / (p1 - p0) * 256.0), 0), 255) AS BIGINT) AS hy,
            CAST(0 AS BIGINT) AS d
          FROM orders, s),
        $chain
        SELECT o_orderkey, d AS hval FROM h8"""
      }) { (s, dir) =>
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val dims = Layout.stats(orders, Seq("o_custkey", "o_totalprice"))
      Layout.withHilbert(
        orders
          .withColumn("__bx", Layout.quantize(col("o_custkey"), dims(0), 8))
          .withColumn("__by", Layout.quantize(col("o_totalprice"), dims(1), 8)),
        "__bx", "__by", bits = 8, out = "hval")
        .select("o_orderkey", "hval")
    },

    "layout_hilbert_gate" -> QueryDef(
      doc = "Hilbert-curve guarantees, driver-checked: (1) BIJECTION - on the full 64x64 grid every index 0..4095 is hit exactly once (no two cells share an index, so range partitioning on it is lossless); (2) ADJACENCY - consecutive indexes are grid neighbors (|dx|+|dy| = 1), the defining Hilbert property that is FALSE for Morton and the reason its boxes are tighter; (3) hilbertWrite files prune a second-dimension band at least as hard as the z-order bound (<= half of 16 files) while round-tripping every row",
      oracle = "SELECT CAST(1 AS INTEGER) AS hilbert_bijective, " +
        "CAST(1 AS INTEGER) AS hilbert_adjacent, " +
        "CAST(1 AS INTEGER) AS hilbert_prunes") { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val bits = 6
      val n = 1L << bits
      val grid = s.range(n).select(col("id").as("x"))
        .crossJoin(s.range(n).select(col("id").as("y")))
      val h = Layout.withHilbert(grid, "x", "y", bits, "d")
        .select("d", "x", "y").localCheckpoint(true)
      // the two grid-invariant legs and the orders write+prune leg
      // are mutually independent — overlap them (Par: guide §2.6)
      val (bijective, adjacent, prunes) = Par.three(
        h.select("d").distinct().count() == n * n &&
          h.agg(min("d"), max("d")).as[(Long, Long)].head() ==
            ((0L, n * n - 1)),
        // consecutive-index pairs by self-join on the checkpointed
        // grid (d joined to d+1) — a global lag window would be an
        // empty-spec WindowExec, the single-partition-warning shape
        // the suite bans
        h.select(col("d"), col("x"), col("y"))
          .join(h.select((col("d") + 1).as("d"), col("x").as("px"),
            col("y").as("py")), Seq("d"))
          .filter(abs(col("x") - col("px")) +
            abs(col("y") - col("py")) =!= 1)
          .count() == 0,
        {
          val orders = Tables.load(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
          val path = java.nio.file.Files
            .createTempDirectory("graft-hilb").resolve("t").toString
          val numFiles = 16
          Layout.hilbertWrite(orders, "o_custkey", "o_totalprice",
            bits = 8, numFiles, path)
          val span = orders.agg(min("o_totalprice"), max("o_totalprice"))
            .as[(Double, Double)].head()
          val (qLo, qHi) = (span._1 + 0.10 * (span._2 - span._1),
            span._1 + 0.20 * (span._2 - span._1))
          val touched = Layout.fileIndex(s, path, Seq("o_totalprice"))
            .filter(col("max_o_totalprice") >= qLo &&
              col("min_o_totalprice") <= qHi).count()
          touched <= numFiles / 2 &&
            s.read.parquet(path).count() == Tables.count(s, dir, "orders")
        })
      Seq((if (bijective) 1 else 0, if (adjacent) 1 else 0,
        if (prunes) 1 else 0))
        .toDF("hilbert_bijective", "hilbert_adjacent", "hilbert_prunes")
    },

    "layout_skip" -> QueryDef(
      doc = "file-level data skipping end-to-end (the read-side half of layout_zorder): zorderWrite orders into 16 range-partitioned files, build the per-file min/max index (one narrow scan, one row per file - the Delta/Iceberg-statistics design, because at 100 TB even parquet footer pruning is ~800k metadata reads), then answer a SECOND-z-dimension band predicate through prunedRead, which opens only the files whose bounding box intersects the band. Soundness, not tightness, carries correctness: the residual filter re-applies to surviving rows, so the result is row-identical to a full filtered scan - which is exactly what the oracle runs; the skipping itself (and its superiority over a linear sort) is gated in layout_skip_gate",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice BETWEEN 100000 AND 150000""") { (s, dir) =>
      import graft.operators.Layout
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-zskip").toString
      Layout.zorderWrite(
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq("o_custkey", "o_totalprice"), bits = 8,
        numFiles = 16, path = tmp)
      Layout.prunedRead(s, tmp,
        Layout.fileIndex(s, tmp, Seq("o_custkey", "o_totalprice")),
        Seq(Layout.Range("o_totalprice", 100000.0, 150000.0)))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    "layout_skip_str" -> QueryDef(
      doc = "STRING-column data skipping (a 100 TB table's most common band predicate is a DATE-STRING range - 'yyyy-MM-dd' orders lexicographically exactly as its dates do, so a lexicographic min/max box is sound): orders written range-partitioned on the day string into 8 files with tight per-file day boxes, fileIndex keeps the string column NATIVE (the numeric double cast would null a string box and skip nothing), and prunedRead answers a one-year StrRange by opening only the files whose [min_d, max_d] intersects it. Soundness + residual filter = row-identical to the oracle's full scan; the skipped-file count is asserted in LayoutSpec (strictly fewer than the file count)",
      oracle = """
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
               o_orderkey, o_totalprice
        FROM orders
        WHERE strftime(o_orderdate, '%Y-%m-%d')
              BETWEEN '1997-01-01' AND '1997-12-31'""") { (s, dir) =>
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_orderkey"), col("o_totalprice"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-strskip").resolve("t").toString
      orders.repartitionByRange(8, col("d"))
        .sortWithinPartitions("d").write.parquet(tmp)
      Layout.prunedRead(s, tmp,
        Layout.fileIndex(s, tmp, Seq("d")),
        Seq(Layout.StrRange("d", "1997-01-01", "1997-12-31")))
        .select("d", "o_orderkey", "o_totalprice")
    },

    "layout_autoskip" -> QueryDef(
      doc = "predicate-driven data skipping (the explicit prunedRead band API promoted to what Delta ships: the caller writes a plain WHERE and the engine extracts whatever file-level bounds it implies): a mixed predicate - a two-sided band on one z-dimension, a one-sided > on the other, and a modulo conjunct NO extractor can use - answers through autoPrunedRead, which prunes files on the extractable conjuncts only and re-applies the FULL predicate to survivors. Correctness never depends on extraction coverage (dropping a conjunct only widens the file set); the hash pins row-identity to the oracle's full scan, and layout_autoskip_gate pins that the pruning is real",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice >= 100000 AND o_totalprice <= 150000
          AND o_custkey > 100 AND o_orderkey % 3 = 0""") { (s, dir) =>
      import graft.operators.Layout
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-autoskip").toString
      Layout.zorderWrite(
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq("o_custkey", "o_totalprice"), bits = 8,
        numFiles = 16, path = tmp)
      Layout.autoPrunedRead(s, tmp,
        Layout.fileIndex(s, tmp, Seq("o_custkey", "o_totalprice")),
        col("o_totalprice") >= 100000 && col("o_totalprice") <= 150000 &&
          col("o_custkey") > 100 && col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    "layout_autoskip_gate" -> QueryDef(
      doc = "predicate-extraction guarantees for autoPrunedRead: (1) auto_lossless - a predicate mixing extractable bounds with an unextractable modulo conjunct returns EXACTLY the plain filtered scan's rows, both directions (the full predicate re-applies to survivors, so extraction coverage is a perf knob, never a correctness one); (2) auto_prunes - the extractable band + equality actually skip files (surviving list strictly under half the 16-file budget); (3) auto_one_sided - a single one-sided >= bound alone both prunes and stays row-identical (no silent requirement for two-sided bands); (4) auto_no_extract_safe - a predicate made ONLY of unextractable conjuncts yields no bounds at all (None, not 'zero files survive') and autoPrunedRead degrades to the plain filtered scan - the failure mode where no-extraction reads as empty-result is the one that silently loses rows",
      oracle = "SELECT CAST(1 AS INTEGER) AS auto_lossless, " +
        "CAST(1 AS INTEGER) AS auto_prunes, " +
        "CAST(1 AS INTEGER) AS auto_one_sided, " +
        "CAST(1 AS INTEGER) AS auto_no_extract_safe") { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-autoskipg").toString
      Layout.zorderWrite(orders, Seq("o_custkey", "o_totalprice"),
        bits = 8, numFiles = 16, path = tmp)
      val idx = Layout.fileIndex(s, tmp,
        Seq("o_custkey", "o_totalprice")).localCheckpoint(true)
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      def plain(p: org.apache.spark.sql.Column) =
        s.read.parquet(tmp).filter(p)
      // the four invariant legs are independent read-only probes of
      // the one written layout — overlap them (Par: guide §2.6);
      // each eq pays two full scans, and sequentially the row ran at
      // 7 of 32 cores
      val mixed = col("o_totalprice") >= 100000 &&
        col("o_totalprice") <= 150000 && col("o_orderkey") % 3 === 0
      val (lossless, prunes, oneOk, safe) = Par.four(
        eq(Layout.autoPrunedRead(s, tmp, idx, mixed),
          plain(mixed)),
        {
          val banded = Layout.autoPruneFiles(s, tmp, idx, mixed)
          val midKey = orders.agg(
            percentile_approx(col("o_custkey"), lit(0.5), lit(100)))
            .head().getLong(0)
          val eqPred = col("o_custkey") === midKey &&
            col("o_totalprice") <= 120000
          val eqFiles = Layout.autoPruneFiles(s, tmp, idx, eqPred)
          banded.exists(_.size <= 8) &&
            eqFiles.exists(_.size < 8) &&
            eq(Layout.autoPrunedRead(s, tmp, idx, eqPred), plain(eqPred))
        },
        {
          val oneSided = col("o_totalprice") >= 400000
          Layout.autoPruneFiles(s, tmp, idx, oneSided)
            .exists(_.size < 16) &&
            eq(Layout.autoPrunedRead(s, tmp, idx, oneSided),
              plain(oneSided))
        },
        {
          val noExtract = col("o_orderkey") % 2 === 0
          Layout.autoPruneFiles(s, tmp, idx, noExtract).isEmpty &&
            eq(Layout.autoPrunedRead(s, tmp, idx, noExtract),
              plain(noExtract))
        })
      Seq((if (lossless) 1 else 0, if (prunes) 1 else 0,
        if (oneOk) 1 else 0, if (safe) 1 else 0))
        .toDF("auto_lossless", "auto_prunes", "auto_one_sided",
          "auto_no_extract_safe")
    },

    "layout_skip_gate" -> QueryDef(
      doc = "data-skipping guarantees: (1) losslessness - prunedRead's row set EQUALS the full filtered scan's, both directions, for a second-dimension band (soundness of the index + residual filter); (2) non-vacuity - the band's surviving file set is at most HALF the 16 files (the z-curve's bounding boxes are genuinely tight on dimension 2); (3) superiority - the same 16-file budget sorted linearly on the FIRST dimension alone skips (almost) nothing for the same predicate (>= 15 of 16 files touched), which is the multi-dimensional-clustering claim made quantitative. Band = the [0.10, 0.20] span quantiles of o_totalprice, away from the curve's degenerate midpoint split",
      oracle = "SELECT CAST(1 AS INTEGER) AS skip_lossless, " +
        "CAST(1 AS INTEGER) AS skip_nonvacuous, " +
        "CAST(1 AS INTEGER) AS skip_beats_linear") { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val numFiles = 16
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft-zskipg")
      val (zPath, linPath) =
        (root.resolve("z").toString, root.resolve("lin").toString)
      Layout.zorderWrite(orders, Seq("o_custkey", "o_totalprice"),
        bits = 8, numFiles, zPath)
      orders.repartitionByRange(numFiles, col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(linPath)
      val span = orders.agg(
          min(col("o_totalprice")), max(col("o_totalprice")))
        .as[(Double, Double)].head()
      val (lo, hi) = (span._1 + 0.10 * (span._2 - span._1),
        span._1 + 0.20 * (span._2 - span._1))
      def survivors(path: String): Long =
        Layout.fileIndex(s, path, Seq("o_totalprice"))
          .filter(col("max_o_totalprice") >= lo &&
            col("min_o_totalprice") <= hi).count()
      val pruned = Layout.prunedRead(s, zPath,
        Layout.fileIndex(s, zPath, Seq("o_custkey", "o_totalprice")),
        Seq(Layout.Range("o_totalprice", lo, hi)))
      val full = orders.filter(
        col("o_totalprice") >= lo && col("o_totalprice") <= hi)
      val lossless = pruned.exceptAll(full)
        .unionByName(full.exceptAll(pruned)).isEmpty
      Seq((if (lossless) 1 else 0,
        if (survivors(zPath) <= numFiles / 2) 1 else 0,
        if (survivors(linPath) >= numFiles - 1) 1 else 0))
        .toDF("skip_lossless", "skip_nonvacuous", "skip_beats_linear")
    },

    "layout_compact" -> QueryDef(
      doc = "small-file compaction end-to-end: orders deliberately fragmented into 48 tiny files (the streaming-append pathology - every scan a task storm, every footer pass a metadata storm), compactTo re-packs them into ceil(bytes/target) bins while files already at >= target/2 would be byte-copied untouched (never re-encoded - rewriting the well-sized 90% of a 100 TB table is the classic compaction mistake); the read-back must be ROW-IDENTICAL to the original table, which is exactly what the oracle states; the file-count arithmetic and kept-file byte-identity are layout_compact_gate's contract",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders""") { (s, dir) =>
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft-compact")
      val (src, dst) = (root.resolve("src").toString, root.resolve("dst").toString)
      orders.repartition(48).write.parquet(src)
      Layout.compactTo(s, src, dst, targetBytes = 1L << 20)
      s.read.parquet(dst)
    },

    "layout_compact_gate" -> QueryDef(
      doc = "compaction guarantees on a mixed layout (40 fragments + one well-sized file, target = the big file's own length so the split is size-relative and holds at every sf): (1) counts - 1 kept, 40 packed, dst holds exactly kept + bins files; (2) the kept file is preserved at its exact byte length (copied, never re-encoded); (3) rows - dst row count equals src's (both copies of orders), nothing lost or duplicated by the re-pack",
      oracle = "SELECT CAST(1 AS INTEGER) AS compact_counts_ok, " +
        "CAST(1 AS INTEGER) AS compact_kept_bytes_ok, " +
        "CAST(1 AS INTEGER) AS compact_rows_ok") { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft-compactg")
      val (src, dst) = (root.resolve("src").toString, root.resolve("dst").toString)
      orders.repartition(40).write.parquet(src)
      orders.repartition(1).write.mode("append").parquet(src)
      val conf = s.sparkContext.hadoopConfiguration
      val sp = new org.apache.hadoop.fs.Path(src)
      val fs = sp.getFileSystem(conf)
      def parquetFiles(p: String) =
        fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val big = parquetFiles(src).maxBy(_.getLen)
      val st = Layout.compactTo(s, src, dst, targetBytes = big.getLen)
      val dstFiles = parquetFiles(dst)
      val countsOk = st.kept == 1 && st.packed == 40 && st.nIn == 41 &&
        dstFiles.size == st.kept + st.bins
      val keptOk = dstFiles.exists(f =>
        f.getPath.getName == big.getPath.getName && f.getLen == big.getLen)
      val rowsOk = s.read.parquet(dst).count() ==
        2 * Tables.count(s, dir, "orders")
      Seq((if (countsOk) 1 else 0, if (keptOk) 1 else 0,
        if (rowsOk) 1 else 0))
        .toDF("compact_counts_ok", "compact_kept_bytes_ok", "compact_rows_ok")
    },

    "layout_compact_part" -> QueryDef(
      doc = "partitioned compaction end-to-end: orders partitioned by bucket = o_custkey % 4, each bucket dir fragmented into ~10 small files plus one well-sized file, compacted per PARTITION DIR (bins never mix partitions - a packed file's partition values live in its directory name, so a cross-partition bin would corrupt reads); the compacted copy reads row-identically with the partition column intact, which is what this hash asserts against the raw source table. The selective rules compose at two granularities (cold dirs byte-copied whole, well-sized files inside hot dirs byte-copied) - layout_compact_part_gate's contract",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(o_custkey % 4 AS INTEGER) AS bucket
        FROM orders""") { (s, dir) =>
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("bucket", (col("o_custkey") % 4).cast("int"))
      val root = java.nio.file.Files.createTempDirectory("graft-cpart")
      val (src, dst) =
        (root.resolve("src").toString, root.resolve("dst").toString)
      orders.repartition(10).write.partitionBy("bucket").parquet(src)
      Layout.compactPartitioned(s, src, dst,
        targetBytes = 1L << 21, minSmallFiles = 2)
      s.read.parquet(dst)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("bucket").cast("int").as("bucket"))
    },

    "layout_compact_part_gate" -> QueryDef(
      doc = "partitioned-compaction guarantees: four fragmented bucket dirs (10 smalls + 1 well-sized each, target = the big file's own length so the split is size-relative) plus one COLD single-file dir (bucket=9). (1) counts - 5 leaf dirs visited, 4 compacted, the cold dir skipped (byte-copied whole, never read as a compute job - the selective-maintenance rule at partition granularity); (2) clean_bytes - every kept file preserved at its exact byte length IN ITS OWN partition dir (never re-encoded, never moved across partitions); (3) packed per dir - each hot dir's file count shrinks and dst holds exactly kept+bins files per dir, bins never mix partitions; (4) rows - dst reads row-identical to src including partition values; (5) mixed layouts (top-level parquet next to partition dirs) rejected loudly",
      oracle = "SELECT CAST(1 AS INTEGER) AS part_counts_ok, " +
        "CAST(1 AS INTEGER) AS part_clean_bytes_ok, " +
        "CAST(1 AS INTEGER) AS part_bins_ok, " +
        "CAST(1 AS INTEGER) AS part_rows_ok, " +
        "CAST(1 AS INTEGER) AS part_mixed_rejected") { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft-cpartg")
      val (src, dst) =
        (root.resolve("src").toString, root.resolve("dst").toString)
      val hot = orders.withColumn("bucket", (col("o_custkey") % 4).cast("int"))
      hot.repartition(10).write.partitionBy("bucket").parquet(src)
      // one well-sized file per dir: repartition BY the partition
      // column so each bucket encodes in its own task (4-way
      // parallel) — the former repartition(1) squeezed the whole
      // 600k-row encode through one task (r13: this gate measured
      // 8 of 32 cores, most of it this serial write). The produced
      // layout is identical: one appended file per bucket dir, and
      // the gate's size rule is self-calibrating (target = max leaf
      // length), so the check semantics are unchanged.
      hot.repartition(col("bucket")).write.mode("append")
        .partitionBy("bucket").parquet(src)
      // the cold partition: one file, nothing to pack
      orders.limit(500).withColumn("bucket", lit(9))
        .repartition(1).write.mode("append").partitionBy("bucket")
        .parquet(src)
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
      def leafFiles(p: String) =
        fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      def dirs(p: String) =
        fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
          .filter(e => e.isDirectory && e.getPath.getName.contains("="))
          .map(_.getPath.getName).sorted
      val target = dirs(src).flatMap(d => leafFiles(s"$src/$d"))
        .map(_.getLen).max
      val st = Layout.compactPartitioned(s, src, dst,
        targetBytes = target, minSmallFiles = 2)
      val countsOk = st.partitions == 5 && st.compacted == 4 &&
        st.skippedDirs == 1 && st.files.kept == 4 + 1 &&
        st.files.packed == 40
      val cleanOk = dirs(src).forall { d =>
        val srcKept = leafFiles(s"$src/$d")
          .filter(f => d == "bucket=9" || f.getLen >= target / 2)
          .map(f => f.getPath.getName -> f.getLen).toMap
        val dstFs = leafFiles(s"$dst/$d")
          .map(f => f.getPath.getName -> f.getLen).toMap
        srcKept.forall { case (n, len) => dstFs.get(n).contains(len) }
      }
      val binsOk = dirs(src).filterNot(_ == "bucket=9").forall { d =>
        leafFiles(s"$dst/$d").size < leafFiles(s"$src/$d").size
      } && dirs(src) == dirs(dst)
      val srcRead = s.read.parquet(src)
      val dstRead = s.read.parquet(dst)
      val rowsOk = dstRead.exceptAll(srcRead)
        .unionByName(srcRead.exceptAll(dstRead)).isEmpty
      val mixed = root.resolve("mixed").toString
      orders.limit(10).withColumn("bucket", lit(1))
        .write.partitionBy("bucket").parquet(mixed)
      orders.limit(10).write.mode("append").parquet(mixed)
      val rejected = try {
        Layout.compactPartitioned(s, mixed,
          root.resolve("mdst").toString, target)
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("mixes") }
      Seq((if (countsOk) 1 else 0, if (cleanOk) 1 else 0,
        if (binsOk) 1 else 0, if (rowsOk) 1 else 0,
        if (rejected) 1 else 0))
        .toDF("part_counts_ok", "part_clean_bytes_ok", "part_bins_ok",
          "part_rows_ok", "part_mixed_rejected")
    },

    "layout_bloomindex" -> QueryDef(
      doc = "per-file bloom index end-to-end - the probabilistic middle rung of the skipping ladder: min/max is free but useless for a scattered high-cardinality key, the record-level point index is exact but KEY-cardinality-sized, the per-FILE bloom is file-count rows of ~1.2 bytes/key at 1% fpp (the Parquet/Delta bloom-skipping design as a derived table). orders hash-scattered into 16 files on o_custkey; bloomLookup answers o_orderkey % 997 = 0 by probing each file's sketch distributed (one deserialization per INDEX row probes all values - the graft_bloom_contains_any interpreted expression, justified by the index-sized input) and opening only survivors. False positives only ADD files; the exact residual filter makes the result row-identical to the oracle's full scan - fpp trades IO, never correctness",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderkey % 997 = 0""") { (s, dir) =>
      import graft.operators.{Layout, ModelCollect}
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tmp = java.nio.file.Files.createTempDirectory("graft-bidx")
        .resolve("t").toString
      orders.repartition(16, col("o_custkey")).write.parquet(tmp)
      val perFile = math.max(1024L, Tables.count(s, dir, "orders") / 16)
      val idx = Layout.bloomIndex(s, tmp, "o_orderkey", perFile)
      val probes = ModelCollect.bounded(
          orders.filter(col("o_orderkey") % 997 === 0)
            .select("o_orderkey").distinct(),
          4096, "bloom-lookup probe keys")
        .map(_.getLong(0))
      Layout.bloomLookup(s, tmp, idx, "o_orderkey", probes)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    "layout_bloomindex_gate" -> QueryDef(
      doc = "bloom-index guarantees: (1) lookup_eq - bloomLookup's row set EQUALS the full filtered scan's both directions (false positives open files, the residual filter closes them); (2) skips - for a single probe the sketch keeps <= 4 of 16 hash-scattered files (expected 1 + 15 x fpp at 1%) while min/max keeps >= 12 AND the sketch strictly beats min/max - the quantitative case for the probabilistic rung; (3) delta_merge - after appending files, existing UNION bloomIndexDelta equals a full rebuild BIT-exactly (per-file sketches are deterministic seeded murmur, no RNG) - append maintenance costs one narrow scan of the new files",
      oracle = "SELECT CAST(1 AS INTEGER) AS lookup_eq, " +
        "CAST(1 AS INTEGER) AS skips, " +
        "CAST(1 AS INTEGER) AS delta_merge") { (s, dir) =>
      import s.implicits._
      import graft.operators.{Layout, ModelCollect}
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tmp = java.nio.file.Files.createTempDirectory("graft-bidxg")
        .resolve("t").toString
      orders.repartition(16, col("o_custkey")).write.parquet(tmp)
      val perFile = math.max(1024L, Tables.count(s, dir, "orders") / 16)
      val idx0 = Layout.bloomIndex(s, tmp, "o_orderkey", perFile)
        .localCheckpoint(true)
      val probes = ModelCollect.bounded(
          orders.filter(col("o_orderkey") % 997 === 0)
            .select("o_orderkey").distinct(),
          4096, "bloom-lookup probe keys")
        .map(_.getLong(0))
      val probe = probes.max
      // the three pre-append probes are independent reads of the one
      // written layout — overlap them (Par: guide §2.6); the append
      // leg below MUST stay after them (it mutates the directory)
      val (lookupEq, bloomFiles, minmaxSurvivors) = Par.three(
        {
          val looked = Layout.bloomLookup(s, tmp, idx0, "o_orderkey",
              probes)
            .select("o_orderkey", "o_custkey", "o_totalprice")
          val full = orders.filter(col("o_orderkey") % 997 === 0)
          looked.exceptAll(full)
            .unionByName(full.exceptAll(looked)).isEmpty
        },
        idx0.filter(
          graft.functions.BloomContainsAny.column(
            col("bloom"), lit(Array(probe)))).count(),
        Layout.fileIndex(s, tmp, Seq("o_orderkey"))
          .filter(col("min_o_orderkey") <= probe &&
            col("max_o_orderkey") >= probe).count())
      val skips = bloomFiles <= 4 && minmaxSurvivors >= 12 &&
        bloomFiles < minmaxSurvivors
      orders.filter(col("o_orderkey") % 7 === 0)
        .repartition(2).write.mode("append").parquet(tmp)
      val delta = Layout.bloomIndexDelta(s, tmp, "o_orderkey", idx0,
        perFile)
      val merged = idx0.unionByName(delta)
      val rebuilt = Layout.bloomIndex(s, tmp, "o_orderkey", perFile)
      val deltaMerge = merged.exceptAll(rebuilt)
        .unionByName(rebuilt.exceptAll(merged)).isEmpty
      Seq((if (lookupEq) 1 else 0, if (skips) 1 else 0,
        if (deltaMerge) 1 else 0))
        .toDF("lookup_eq", "skips", "delta_merge")
    },

    "layout_index_delta_gate" -> QueryDef(
      doc = "incremental file-index maintenance (merge == rebuild for the layout family): index a 8-file orders layout, append 4 more files, fileIndexDelta must stat ONLY the 4 new files, and existing UNION delta must equal a full fileIndex rebuild EXACTLY (per-file stats are independent, so the incremental path is lossless) - plus the empty-delta edge: a second delta against the merged index is 0 rows",
      oracle = "SELECT CAST(1 AS INTEGER) AS idx_delta_only_new, " +
        "CAST(1 AS INTEGER) AS idx_merge_eq_rebuild, " +
        "CAST(1 AS INTEGER) AS idx_empty_delta") { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val path = java.nio.file.Files.createTempDirectory("graft-idxdelta")
        .resolve("t").toString
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .repartition(8).write.parquet(path)
      val before = Layout.fileIndex(s, path, Seq("o_totalprice"))
        .localCheckpoint(true)
      orders.filter(col("o_orderkey") % 3 === 0)
        .repartition(4).write.mode("append").parquet(path)
      val delta = Layout.fileIndexDelta(s, path, Seq("o_totalprice"), before)
        .localCheckpoint(true)
      val merged = before.unionByName(delta)
      val full = Layout.fileIndex(s, path, Seq("o_totalprice"))
      val onlyNew = delta.count() == 4 &&
        delta.join(before, Seq("file"), "left_semi").count() == 0
      val mergeEq = merged.exceptAll(full)
        .unionByName(full.exceptAll(merged)).isEmpty
      val emptyDelta = Layout.fileIndexDelta(s, path, Seq("o_totalprice"),
        merged).count() == 0
      Seq((if (onlyNew) 1 else 0, if (mergeEq) 1 else 0,
        if (emptyDelta) 1 else 0))
        .toDF("idx_delta_only_new", "idx_merge_eq_rebuild", "idx_empty_delta")
    },

    "layout_bloomindex_str" -> QueryDef(
      doc = "string-keyed bloom index - the reference's point probes are UUID STRINGS (README.md:296 person_uuid), so the skipping ladder's middle rung must cover non-integral keys: build and probe both canonicalize through xxhash64 (the SAME Catalyst expression on both sides - Layout.canonKey), integral keys keep their value-preserving cast path. A deterministic uuid-ish key ('ord-' || o_orderkey) over a 12-file orders table; bloomLookup probes 8 uuids and opens only sketch-surviving files; a 64-bit-hash collision only ever ADDS a false-positive file and the exact residual filter closes it - row-identical to the oracle's full scan. Delta-merge == rebuild for string sketches is layout_bloomindex_str_gate's contract",
      oracle = """
        SELECT 'ord-' || CAST(o_orderkey AS VARCHAR) AS o_uuid,
               o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 1499 = 0""") { (s, dir) =>
      import graft.operators.{Layout, ModelCollect}
      val orders = Tables.load(s, dir, "orders")
        .select(concat(lit("ord-"), col("o_orderkey").cast("string"))
            .as("o_uuid"),
          col("o_custkey"), col("o_totalprice"),
          col("o_orderkey"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-bstr")
        .resolve("t").toString
      orders.drop("o_orderkey")
        .repartition(12, col("o_custkey")).write.parquet(tmp)
      val perFile = math.max(1024L, Tables.count(s, dir, "orders") / 12)
      val idx = Layout.bloomIndex(s, tmp, "o_uuid", perFile)
      val probes = ModelCollect.bounded(
          orders.filter(col("o_orderkey") % 1499 === 0)
            .select("o_uuid").distinct(),
          4096, "bloom-lookup probe uuids")
        .map(_.getString(0))
      Layout.bloomLookup(s, tmp, idx, "o_uuid", probes)
        .select("o_uuid", "o_custkey", "o_totalprice")
    },

    "layout_bloomindex_str_gate" -> QueryDef(
      doc = "string-bloom guarantees (the layout_bloomindex_gate legs replayed for the xxhash64 canonicalization): (1) str_lookup_eq - the uuid lookup equals the full filtered scan, both exceptAll directions; (2) str_skips - a single uuid probe keeps <= 4 of 12 hash-scattered files (1 + 11 x fpp expected at 1%); min/max pruning is no competition for scattered uuids; (3) str_delta_merge - after an append, existing UNION bloomIndexDelta equals a full rebuild BIT-exactly (xxhash64 is seeded, sketches deterministic) - so string-keyed append maintenance costs one narrow scan of the new files too. Fixture is a <=9000-key slice (semantics, not IO)",
      oracle = "SELECT CAST(1 AS INTEGER) AS str_lookup_eq, " +
        "CAST(1 AS INTEGER) AS str_skips, " +
        "CAST(1 AS INTEGER) AS str_delta_merge") { (s, dir) =>
      import s.implicits._
      import graft.operators.{Layout, ModelCollect}
      val orders = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 9000) // slice: semantics, not IO
        .select(concat(lit("ord-"), col("o_orderkey").cast("string"))
            .as("o_uuid"),
          col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-bstrg")
        .resolve("t").toString
      orders.drop("o_orderkey")
        .repartition(12, col("o_custkey")).write.parquet(tmp)
      val perFile = math.max(1024L, orders.count() / 12)
      val idx0 = Layout.bloomIndex(s, tmp, "o_uuid", perFile)
        .localCheckpoint(true)
      val probes = ModelCollect.bounded(
          orders.filter(col("o_orderkey") % 499 === 0)
            .select("o_uuid").distinct(),
          4096, "bloom-lookup probe uuids")
        .map(_.getString(0))
      val looked = Layout.bloomLookup(s, tmp, idx0, "o_uuid", probes)
        .select("o_uuid", "o_custkey", "o_totalprice")
      val full = s.read.parquet(tmp).filter(col("o_uuid").isin(probes: _*))
        .select("o_uuid", "o_custkey", "o_totalprice")
      val lookupEq = looked.exceptAll(full)
        .unionByName(full.exceptAll(looked)).isEmpty
      val oneProbe = probes.max
      val bloomFiles = Layout.bloomProbeFiles(s, tmp, idx0, "o_uuid",
        Seq(oneProbe)).size
      val skips = bloomFiles <= 4
      orders.drop("o_orderkey").filter(col("o_custkey") % 7 === 0)
        .repartition(2).write.mode("append").parquet(tmp)
      val delta = Layout.bloomIndexDelta(s, tmp, "o_uuid", idx0, perFile)
      val merged = idx0.unionByName(delta)
      val rebuilt = Layout.bloomIndex(s, tmp, "o_uuid", perFile)
      val deltaEq = merged.exceptAll(rebuilt)
        .unionByName(rebuilt.exceptAll(merged)).isEmpty
      Seq((if (lookupEq) 1 else 0, if (skips) 1 else 0,
        if (deltaEq) 1 else 0))
        .toDF("str_lookup_eq", "str_skips", "str_delta_merge")
    },

    "layout_dv" -> QueryDef(
      doc = "row-level deletes via deletion vectors (the Delta/Iceberg design): deleting o_custkey % 10 = 3 from a 4-file orders table records the matching rows' PHYSICAL addresses (_metadata.file_path, _metadata.row_index) as a |deleted|-row vector instead of rewriting every touched file - a point delete costs one filtered scan + a tiny write, data files stay immutable (file-index stats, compaction copies, running scans all undisturbed). The read path subtracts the vector by ONE broadcast anti-join on (file, pos) - the big side never shuffles, scan pruning/pushdown intact. The oracle states the semantic contract directly: the DV read IS the table without the deleted rows; materialization equivalence and byte-identity of clean files are layout_dv_gate's contract",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey % 10 <> 3""") { (s, dir) =>
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val src = java.nio.file.Files.createTempDirectory("graft-dv")
        .resolve("t").toString
      orders.repartition(4).write.parquet(src)
      val dv = Layout.deletionVector(s, src, col("o_custkey") % 10 === 3)
      Layout.readWithDv(s, src, dv)
    },

    "layout_dv_gate" -> QueryDef(
      doc = "deletion-vector maintenance guarantees: (1) mat_eq - materializeDv's output table == the DV-subtracted read of the source, both directions (folding the vector into the data changes nothing a reader can see); (2) clean_bytes - files with NO vectored rows are byte-identical copies in the destination (the compactTo rule: never re-encode the clean majority - source files are range-partitioned on the delete key so the point delete dirties SOME files, not all); (3) dv_sized - the vector holds exactly the deleted-row count (write amplification is |deleted|, not |touched files|); (4) both kept and rewritten files exist (non-vacuity: the selective path actually divided the layout); (5) merge_noop - re-merging an already-applied vector adds nothing (re-deletes are idempotent)",
      oracle = "SELECT CAST(1 AS INTEGER) AS mat_eq, " +
        "CAST(1 AS INTEGER) AS clean_bytes, " +
        "CAST(1 AS INTEGER) AS dv_sized, " +
        "CAST(1 AS INTEGER) AS split_nonvacuous, " +
        "CAST(1 AS INTEGER) AS merge_noop") { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft-dvg")
      val (src, dst) = (root.resolve("s").toString, root.resolve("d").toString)
      orders.repartitionByRange(4, col("o_orderkey")).write.parquet(src)
      val lo = orders.agg(min("o_orderkey")).head().getLong(0)
      val pred = col("o_orderkey") <= lo + 100
      val dv = Layout.deletionVector(s, src, pred).localCheckpoint(true)
      val st = Layout.materializeDv(s, src, dv, dst)
      val want = Layout.readWithDv(s, src, dv).localCheckpoint(true)
      val out = s.read.parquet(dst)
      val matEq = out.exceptAll(want)
        .unionByName(want.exceptAll(out)).isEmpty
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def parquetFiles(p: String) =
        fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => f.getPath.getName -> f.getLen).toMap
      val srcFiles = parquetFiles(src)
      val keptFiles = parquetFiles(dst)
        .filter { case (n, _) => srcFiles.contains(n) }
      val cleanBytes = keptFiles.size == st.kept &&
        keptFiles.forall { case (n, len) => len == srcFiles(n) }
      val dvSized = st.dropped == orders.filter(pred).count() &&
        dv.count() == st.dropped
      val split = st.kept >= 1 && st.rewritten >= 1 &&
        st.kept + st.rewritten == st.nIn
      val mergeNoop = Layout.mergeDv(dv, dv).count() == dv.count()
      Seq((if (matEq) 1 else 0, if (cleanBytes) 1 else 0,
        if (dvSized) 1 else 0, if (split) 1 else 0,
        if (mergeNoop) 1 else 0))
        .toDF("mat_eq", "clean_bytes", "dv_sized", "split_nonvacuous",
          "merge_noop")
    },

    "layout_dpp_gate" -> QueryDef(
      doc = "dynamic partition pruning driver-visible (the star-schema scan killer at 100 TB: the selective predicate lives on the DIM, so static pruning cannot see it, and without runtime pruning the partitioned fact scans WHOLE): lineitem written partitioned by ship month (~83 dirs), joined on the partition column to a month-dim whose YEAR attribute comes out of an AGGREGATE (max over the group - semantically the month's year, but opaque to InferFiltersFromConstraints, which would otherwise rewrite a plain substring alias into a STATIC fact filter and make the runtime claim vacuous) filtered to 1997. Gate: (1) dpp_planned - the executed fact scan carries a dynamicpruningexpression partition filter; (2) dpp_pruned - the scan's numPartitions metric records 12 of the ~83 partitions actually listed (runtime pruning, not plan cosmetics; scans found by recursing through AQE QueryStageExec wrappers, which plain collect misses); (3) rows_eq - the identical query with spark.sql.optimizer.dynamicPartitionPruning.enabled=false returns the same rows AND its fact scan lists ALL ~83 partitions (proving no static rewrite exists and the knob changed IO, nothing else)",
      oracle = "SELECT CAST(1 AS INTEGER) AS dpp_planned, " +
        "CAST(1 AS INTEGER) AS dpp_pruned, " +
        "CAST(1 AS INTEGER) AS rows_eq") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val linesAll = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      // deterministic 1-in-5 slice for the WRITTEN fact: every ship
      // month keeps rows, so the ~83-dir layout and the 12-of-83
      // pruning claim are unchanged — the gate proves SEMANTICS, not
      // IO volume
      val lines = linesAll.filter(col("l_orderkey") % 5 === 0)
      val root = java.nio.file.Files.createTempDirectory("graft-dpp")
      val factPath = root.resolve("fact").toString
      // cluster by the partition column before the partitioned write
      // (guide §6, Iceberg's hash distribution-mode): without it every
      // scan task emits a file into every one of the ~83 month dirs
      // (~4×83 files + committer moves, the probe's 1.4 s); with it
      // each month lands whole in one task — one file per dir, and
      // the gate's two read-back scans list 4× fewer files
      graft.sources.AnalysisStore.writeFull(
        lines.repartition(col("ship_month")), factPath,
        partitionBy = Seq("ship_month"))
      val fact = s.read.parquet(factPath)
      // month dim built from the SOURCE table (not the partitioned
      // store) so its scan shares no files with the fact side; the
      // year attribute hides behind max() so constraint propagation
      // cannot turn the dim filter into a static fact filter
      val dim = linesAll.groupBy(col("ship_month"))
        .agg(max(substring(col("ship_month"), 1, 4)).as("ship_year"))
      // the dim side carries the explicit broadcast hint (the star-
      // schema posture): with the dieted fact the size-estimate
      // toss-up could otherwise broadcast the FACT, leaving no dim
      // broadcast for reuseBroadcastOnly DPP to ride —
      // dynamicpruningexpression(true), 83 partitions listed
      def q() = fact
        .join(broadcast(dim.filter(col("ship_year") === "1997")),
          Seq("ship_month"))
        .groupBy("ship_month")
        .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n"))
      // After execution the fact scan sits inside AQE QueryStageExec
      // wrappers, which plain collect/collectWithSubqueries do NOT
      // descend into — recurse through stage plans explicitly.
      def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
        val direct = p.collectWithSubqueries {
          case f: FileSourceScanExec => f }
        val nested = p.collectWithSubqueries {
          case qs: QueryStageExec => qs.plan
          case a: AdaptiveSparkPlanExec => a.executedPlan
        }.filterNot(_ eq p).flatMap(allScans)
        direct ++ nested
      }
      def run(df: org.apache.spark.sql.DataFrame) = {
        // ONE execution pins the rows AND finalizes AQE + scan
        // metrics on the same queryExecution — re-running the query
        // for a separate checkpoint would double the gate's cost
        val pinned = df.localCheckpoint(true)
        val qe = df.queryExecution
        val factScans = allScans(qe.executedPlan).distinct.filter(
          _.relation.location.rootPaths
            .exists(_.toString.contains("graft-dpp")))
        val partsRead = factScans
          .flatMap(_.metrics.get("numPartitions").map(_.value)).sum
        (partsRead, qe.executedPlan.toString, pinned)
      }
      val (onParts, onPlan, onRows) = run(q())
      val fs = new org.apache.hadoop.fs.Path(factPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val totalParts = fs
        .listStatus(new org.apache.hadoop.fs.Path(factPath)).toSeq
        .count(st => st.isDirectory && st.getPath.getName.contains("="))
      val planned = onPlan.contains("dynamicpruningexpression")
      val pruned = totalParts > 24 && onParts == 12
      val prev = s.conf.get(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      s.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      val rowsEq = try {
        val (offParts, offPlan, off) = run(q())
        !offPlan.contains("dynamicpruningexpression") &&
          offParts == totalParts && // full scan: no static rewrite
          onRows.exceptAll(off)
          .unionByName(off.exceptAll(onRows)).isEmpty
      } finally s.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)
      Seq((if (planned) 1 else 0, if (pruned) 1 else 0,
        if (rowsEq) 1 else 0))
        .toDF("dpp_planned", "dpp_pruned", "rows_eq")
    },

    "runtime_bloom_gate" -> QueryDef(
      doc = "runtime bloom-filter join pruning driver-visible (the row-level sibling of layout_dpp_gate's partition pruning: the selective predicate lives on the DIM and is NOT on the join key - round(o_totalprice) % 17 - so neither static pushdown nor constraint inference can shrink the fact side; Spark injects a bloom sketch of the filtered dim keys into the fact scan's shuffle input). Gate: (1) bloom_planned - the executed plan carries might_contain AND the bloom-off twin does not; (2) bloom_prunes - total shuffle recordsRead with the filter on is < 1/4 of the off run (the fact side sheds ~16/17 of its rows BEFORE the join exchange - at 100 TB that is the difference between shuffling a table and shuffling a match set); (3) rows_eq - on == off row-for-row, the knob changed IO and nothing else. Thresholds are set in-query (the 10 GB application-side default exists to protect small scans; the semantics are scale-free) and restored",
      oracle = "SELECT CAST(1 AS INTEGER) AS bloom_planned, " +
        "CAST(1 AS INTEGER) AS bloom_prunes, " +
        "CAST(1 AS INTEGER) AS rows_eq") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def allNodes(p: SparkPlan): Seq[SparkPlan] = {
        val direct = p.collectWithSubqueries { case n => n }
        val nested = p.collectWithSubqueries {
          case qs: QueryStageExec => qs.plan
          case a: AdaptiveSparkPlanExec => a.executedPlan
        }.filterNot(_ eq p).flatMap(allNodes)
        direct ++ nested
      }
      val lineitem = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
      def q() = lineitem.join(
          orders.filter(round(col("o_totalprice")) % 17 === 0),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      def run() = {
        val qe = q().queryExecution
        qe.toRdd.count()
        val records = allNodes(qe.executedPlan).distinct.collect {
          case e: ShuffleExchangeExec =>
            e.metrics.get("recordsRead").map(_.value).getOrElse(0L)
        }.sum
        (records, qe.executedPlan.toString, q().localCheckpoint(true))
      }
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled")
      val saved = keys.map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set(keys(0), "0")
        s.conf.set(keys(1), "100MB")
        s.conf.set(keys(2), "-1") // broadcast would bypass the shuffle
        s.conf.set(keys(3), "true")
        val (onRec, onPlan, onRows) = run()
        s.conf.set(keys(3), "false")
        val (offRec, offPlan, offRows) = run()
        val planned = onPlan.contains("might_contain") &&
          !offPlan.contains("might_contain")
        val prunes = onRec > 0 && offRec > 0 && onRec * 4 < offRec
        val rowsEq = onRows.exceptAll(offRows)
          .unionByName(offRows.exceptAll(onRows)).isEmpty
        Seq((if (planned) 1 else 0, if (prunes) 1 else 0,
          if (rowsEq) 1 else 0))
          .toDF("bloom_planned", "bloom_prunes", "rows_eq")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    },

    "runtime_skew_gate" -> QueryDef(
      doc = "AQE skew-join splitting driver-visible (the third leg of the runtime-replan family next to layout_dpp_gate and runtime_bloom_gate): a fact with ~40% of its rows on ONE key (plus a high-entropy payload so lz4 shuffle compression cannot erase the byte skew - the hot partition is a run of identical keys and compresses away without it) sort-merge-joins a tiny dim; the hot shuffle partition must SPLIT into map-chunk ranges with the dim partition duplicated per split. Self-calibrating and scale-free: a skew-OFF baseline run measures the stage's per-partition bytes, then advisory = hot/4 and a 1KB floor threshold let the x2-median factor criterion decide - the same gate passes at sf0.001 and sf1. The fact is pre-repartitioned to widen the MAP side: a single-mapper stage yields one indivisible chunk per reduce partition and the rule correctly declines (found the hard way - the probe's single parquet file scanned as one task). Gate: (1) skew_planned - SortMergeJoin(skew=true) + an 'AQEShuffleRead ... skewed' node in the ON plan, neither in the OFF plan; (2) skew_split - the skewed read materializes MORE partitions than the baseline (real splits, not a plan annotation); (3) rows_eq - on == off",
      oracle = "SELECT CAST(1 AS INTEGER) AS skew_planned, " +
        "CAST(1 AS INTEGER) AS skew_split, " +
        "CAST(1 AS INTEGER) AS rows_eq") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec, ShuffleQueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = {
        val direct = p.collectWithSubqueries { case n => n }
        val nested = p.collectWithSubqueries {
          case qs: QueryStageExec => qs.plan
          case a: AdaptiveSparkPlanExec => a.executedPlan
        }.filterNot(_ eq p).flatMap(allNodes)
        direct ++ nested
      }
      val fact = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .withColumn("k", when(col("l_orderkey") % 5 < 2, 0L)
          .otherwise(col("l_orderkey") % 97))
        .withColumn("payload", md5(col("l_orderkey").cast("string")))
        .repartition(8) // widen the map side: splits are map-chunk-granular
        .localCheckpoint(true)
      val dim = fact.select("k").distinct()
        .withColumn("attr", col("k") * 2).localCheckpoint(true)
      def q() = fact.join(dim.hint("merge"), Seq("k"))
        .agg(sum(col("l_quantity") * col("attr")).as("t"),
          count(lit(1)).as("n"), max(length(col("payload"))).as("w"))
      def run() = {
        val qe = q().queryExecution
        qe.toRdd.count()
        val nodes = allNodes(qe.executedPlan).distinct
        // real splits: the hot reduce partition materializes as
        // several PartialReducerPartitionSpec map-chunk ranges
        val splits = nodes.collect { case r: AQEShuffleReadExec =>
          r.partitionSpecs.count(
            _.getClass.getSimpleName == "PartialReducerPartitionSpec") }
        val stageBytes = nodes.collect {
          case st: ShuffleQueryStageExec =>
            st.mapStats.map(_.bytesByPartitionId.toSeq).getOrElse(Seq.empty)
        }
        (qe.executedPlan.toString, splits, stageBytes,
          q().localCheckpoint(true))
      }
      val keys = Seq(
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      val saved = keys.map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set(keys(0), "false")
        val (offPlan, offSplits, offBytes, offRows) = run()
        // calibrate: the k-partitioned join stage is the one whose
        // max partition dwarfs its median — take the global max
        val hot = offBytes.flatMap(_.maxOption).maxOption.getOrElse(0L)
        s.conf.set(keys(0), "true")
        s.conf.set(keys(1), "1KB") // floor; the factor criterion decides
        s.conf.set(keys(2), "2.0")
        s.conf.set(keys(3), math.max(1024L, hot / 4).toString)
        val (onPlan, onSplits, _, onRows) = run()
        val planned = onPlan.contains("skew=true") &&
          onPlan.contains("skewed") && !offPlan.contains("skew=true")
        val split = onSplits.maxOption.getOrElse(0) >= 2 &&
          offSplits.forall(_ == 0)
        val rowsEq = onRows.exceptAll(offRows)
          .unionByName(offRows.exceptAll(onRows)).isEmpty
        Seq((if (planned) 1 else 0, if (split) 1 else 0,
          if (rowsEq) 1 else 0))
          .toDF("skew_planned", "skew_split", "rows_eq")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    },

    "runtime_coalesce_gate" -> QueryDef(
      doc = "AQE shuffle-partition coalescing driver-visible (the fourth leg of the runtime-replan family next to layout_dpp_gate / runtime_bloom_gate / runtime_skew_gate, and the one that fires on EVERY query: spark.sql.shuffle.partitions is a static guess - 32 here, thousands on a cluster - and post-shuffle data volume is only known at runtime; without coalescing a small aggregate schedules 32 near-empty reduce tasks, which at 100 TB cluster scale is the task-scheduling storm that makes small stages slower than their data). Gate: (1) coalesce_planned - the executed plan carries an 'AQEShuffleRead coalesced' node and the off-knob twin does not; (2) coalesce_shrinks - the coalesced read materializes STRICTLY FEWER partitions than the stage's map output was computed for (real runtime re-plan, not cosmetics: mapStats still shows all 32 reduce buckets); (3) rows_eq - on == off row-for-row, the knob changed scheduling and nothing else",
      oracle = "SELECT CAST(1 AS INTEGER) AS coalesce_planned, " +
        "CAST(1 AS INTEGER) AS coalesce_shrinks, " +
        "CAST(1 AS INTEGER) AS rows_eq") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec, ShuffleQueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = {
        val direct = p.collectWithSubqueries { case n => n }
        val nested = p.collectWithSubqueries {
          case qs: QueryStageExec => qs.plan
          case a: AdaptiveSparkPlanExec => a.executedPlan
        }.filterNot(_ eq p).flatMap(allNodes)
        direct ++ nested
      }
      val fact = Tables.load(s, dir, "lineitem")
        .select((col("l_orderkey") % 911).as("k"), col("l_quantity"))
      def q() = fact.groupBy("k")
        .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n"))
      def run() = {
        val df = q()
        val rows = df.localCheckpoint(true) // executes; AQE finalizes
        val nodes = allNodes(df.queryExecution.executedPlan).distinct
        val readParts = nodes.collect { case r: AQEShuffleReadExec =>
          r.partitionSpecs.size }.sum
        val mapParts = nodes.collect { case st: ShuffleQueryStageExec =>
          st.mapStats.map(_.bytesByPartitionId.length).getOrElse(0)
        }.maxOption.getOrElse(0)
        (df.queryExecution.executedPlan.toString, readParts, mapParts,
          rows)
      }
      val key = "spark.sql.adaptive.coalescePartitions.enabled"
      val saved = s.conf.getOption(key)
      try {
        s.conf.set(key, "true")
        val (onPlan, onReadParts, onMapParts, onRows) = run()
        s.conf.set(key, "false")
        val (offPlan, _, _, offRows) = run()
        val planned = onPlan.contains("coalesced") &&
          !offPlan.contains("coalesced")
        val shrinks = onReadParts > 0 && onMapParts > 0 &&
          onReadParts < onMapParts
        val rowsEq = onRows.exceptAll(offRows)
          .unionByName(offRows.exceptAll(onRows)).isEmpty
        Seq((if (planned) 1 else 0, if (shrinks) 1 else 0,
          if (rowsEq) 1 else 0))
          .toDF("coalesce_planned", "coalesce_shrinks", "rows_eq")
      } finally saved.fold(s.conf.unset(key))(s.conf.set(key, _))
    },

    "salted_adaptive" -> QueryDef(
      doc = "adaptive (hot-key-only) salted join end-to-end: the lineitem-derived fact puts ~40% of its rows on ONE key; SkewJoin.adaptiveSaltedJoin detects the hot set in one Misra-Gries pass (PODS'82 superset guarantee: every key with frequency > N/k survives the sketch - the SAFE direction, since salting a cold key by mistake costs factor-1 small rows while missing a hot one stalls a stage), salts ONLY those rows across 8 sub-keys, and replicates ONLY the dim's hot rows - the differentiated form every production skew fix converges on, vs blanket salting's factor x |dim| shuffle. The hash proves the salted join's per-key aggregate EQUALS the oracle's plain-join replay: salting changed the partition histogram, not one row of the answer. Cents-integerized products keep the sum exact cross-engine",
      oracle = """
        WITH fact AS (
          SELECT CASE WHEN l_orderkey % 5 < 2 THEN 0
                      ELSE l_orderkey % 97 END AS k,
                 CAST(round(l_quantity * 100, 0) AS BIGINT) AS cents
          FROM lineitem),
        d AS (SELECT DISTINCT k, k * 2 AS attr FROM fact)
        SELECT f.k, count(*) AS n,
               CAST(sum(f.cents * d.attr) AS BIGINT) AS total
        FROM fact f JOIN d ON f.k = d.k
        GROUP BY f.k""") { (s, dir) =>
      import graft.operators.SkewJoin
      val fact = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .withColumn("k", when(col("l_orderkey") % 5 < 2, 0L)
          .otherwise(col("l_orderkey") % 97))
        .select(col("k"),
          round(col("l_quantity") * 100, 0).cast("long").as("cents"))
      val dim = fact.select("k").distinct()
        .withColumn("attr", col("k") * 2)
      SkewJoin.adaptiveSaltedJoin(fact, dim, Seq("k"), factor = 8)
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(col("cents") * col("attr")).as("total"))
    },

    "salted_adaptive_gate" -> QueryDef(
      doc = "the adaptive-salting cost/shape claims the hash query cannot see: (1) hot_found - the planted hot key (~40% of rows) is IN the MG-detected hot set and the set is k-bounded; (2) histogram_flattened - after salting, the largest (key, salt) group is <= 1/4 of the unsalted hot-key group (the reducer-stall fix actually fired; 8 salts give ~1/8, 1/4 is the determinism slack); (3) replication_cheap - the replicated dim row count is EXACTLY |dim| + |hot| x (factor - 1), independent of the dim's cold mass (blanket salting would pay factor x |dim|); (4) cold_untouched - every cold row keeps salt 0 (no spurious scatter of well-behaved keys)",
      oracle = "SELECT CAST(1 AS INTEGER) AS hot_found, " +
        "CAST(1 AS INTEGER) AS histogram_flattened, " +
        "CAST(1 AS INTEGER) AS replication_cheap, " +
        "CAST(1 AS INTEGER) AS cold_untouched") { (s, dir) =>
      import s.implicits._
      import graft.operators.SkewJoin
      val fact = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"))
        .withColumn("k", when(col("l_orderkey") % 5 < 2, 0L)
          .otherwise(col("l_orderkey") % 97))
        .select("k", "l_orderkey")
      val dim = fact.select("k").distinct()
        .withColumn("attr", col("k") * 2).localCheckpoint(true)
      val k = 64
      val factor = 8
      val hot = SkewJoin.hotKeys(fact, Seq("k"), k)
      val hotFound = hot.contains("0") && hot.size <= k
      // replay the operator's salting to measure the histogram
      val salted = fact.withColumn("__salt",
        when(col("k").cast("string").isin(hot: _*),
          pmod(xxhash64(col("k"), col("l_orderkey")), lit(factor)))
          .otherwise(lit(0)).cast("int"))
      val unsaltedMax = fact.groupBy("k").count()
        .agg(max("count")).head.getLong(0)
      val saltedMax = salted.groupBy("k", "__salt").count()
        .agg(max("count")).head.getLong(0)
      val flattened = saltedMax * 4 <= unsaltedMax
      val replicated = dim.withColumn("__salt",
        explode(when(col("k").cast("string").isin(hot: _*),
          sequence(lit(0), lit(factor - 1)))
          .otherwise(array(lit(0))))).count()
      val hotInDim = dim.filter(
        col("k").cast("string").isin(hot: _*)).count()
      val cheap = replicated == dim.count() + hotInDim * (factor - 1)
      val coldZero = salted.filter(
        !col("k").cast("string").isin(hot: _*) &&
          col("__salt") =!= 0).count() == 0
      Seq((if (hotFound) 1 else 0, if (flattened) 1 else 0,
        if (cheap) 1 else 0, if (coldZero) 1 else 0))
        .toDF("hot_found", "histogram_flattened", "replication_cheap",
          "cold_untouched")
    },

    "layout_pointindex" -> QueryDef(
      doc = "record-level point index end-to-end (the Hudi record-index / secondary-index design): orders hash-scattered into 16 files on o_custkey, so o_orderkey - high-cardinality, scattered - is exactly the key min/max skipping CANNOT serve (every file's [min,max] spans every probe; the gate measures that). keyIndex builds the key -> sorted-file-set table in one distributed scan (|keys| rows, a TABLE, never collected); pointLookup answers o_orderkey % 997 = 0 by opening only the files the index names for those keys - the needle-in-haystack read at 100 TB. The residual IN-filter re-applies, so the result is row-identical to the full scan the oracle runs; soundness carries correctness, the index only carries IO",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderkey % 997 = 0""") { (s, dir) =>
      import graft.operators.{Layout, ModelCollect}
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tmp = java.nio.file.Files.createTempDirectory("graft-pidx")
        .resolve("t").toString
      orders.repartition(16, col("o_custkey")).write.parquet(tmp)
      val idx = Layout.keyIndex(s, tmp, "o_orderkey")
      val probes = ModelCollect.bounded(
          orders.filter(col("o_orderkey") % 997 === 0)
            .select("o_orderkey").distinct(),
          4096, "point-lookup probe keys")
        .map(_.getLong(0))
      Layout.pointLookup(s, tmp, idx, "o_orderkey", probes)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    "layout_pointindex_gate" -> QueryDef(
      doc = "point-index guarantees: (1) lookup_eq - pointLookup's row set EQUALS the full filtered scan's, both directions (sound index + residual filter); (2) beats_minmax - for a single probe key the index names at most a handful of files while the min/max fileIndex prunes (almost) NOTHING on the hash-scattered layout (>= 12 of 16 files survive its range check) - the quantitative case for a record-level index where bounding boxes are useless; (3) delta_merge - after appending new files, mergeKeyIndex(old, keyIndexDelta) equals a full keyIndex rebuild EXACTLY (sorted-array canonical form makes the fold bit-equal), so append maintenance costs one narrow scan of the new files, never a table rescan",
      oracle = "SELECT CAST(1 AS INTEGER) AS lookup_eq, " +
        "CAST(1 AS INTEGER) AS beats_minmax, " +
        "CAST(1 AS INTEGER) AS delta_merge") { (s, dir) =>
      import s.implicits._
      import graft.operators.{Layout, ModelCollect}
      val orders = Tables.load(s, dir, "orders")
        // deterministic half-slice: the gate proves index SEMANTICS
        // (soundness, skipping, delta==rebuild), which are row-count
        // free — the full-table IO path is layout_pointindex's job
        .filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tmp = java.nio.file.Files.createTempDirectory("graft-pidxg")
        .resolve("t").toString
      orders.repartition(16, col("o_custkey")).write.parquet(tmp)
      val idx0 = Layout.keyIndex(s, tmp, "o_orderkey")
        .localCheckpoint(true)
      val probes0 = ModelCollect.bounded(
          orders.filter(col("o_orderkey") % 997 === 0)
            .select("o_orderkey").distinct(),
          4096, "point-lookup probe keys")
        .map(_.getLong(0))
      // the slice thins %997 hits; tiny fixtures fall back to the
      // smallest keys so the probe set is never empty
      val probes =
        if (probes0.nonEmpty) probes0
        else ModelCollect.bounded(
          orders.select("o_orderkey").orderBy(col("o_orderkey")).limit(5),
          8, "fallback probe keys").map(_.getLong(0))
      // one probe: the largest key — its min/max survivors vs index files
      val probe = probes.max
      // three independent pre-append probes of the one written layout
      // — overlap them (Par: guide §2.6); the append below mutates
      // the directory and stays after them
      val (lookupEq, pointFiles, minmaxSurvivors) = Par.three(
        {
          val looked = Layout.pointLookup(s, tmp, idx0, "o_orderkey",
              probes)
            .select("o_orderkey", "o_custkey", "o_totalprice")
          val full = orders.filter(col("o_orderkey") % 997 === 0)
          looked.exceptAll(full)
            .unionByName(full.exceptAll(looked)).isEmpty
        },
        idx0.filter(col("o_orderkey") === probe)
          .select(explode(col("files"))).count(),
        Layout.fileIndex(s, tmp, Seq("o_orderkey"))
          .filter(col("min_o_orderkey") <= probe &&
            col("max_o_orderkey") >= probe).count())
      val beats = pointFiles <= 2 && minmaxSurvivors >= 12 &&
        pointFiles < minmaxSurvivors
      // append two more files, then fold the delta against idx0
      orders.filter(col("o_orderkey") % 7 === 0)
        .repartition(2).write.mode("append").parquet(tmp)
      val delta = Layout.keyIndexDelta(s, tmp, "o_orderkey", idx0)
      val merged = Layout.mergeKeyIndex(idx0, delta)
      val rebuilt = Layout.keyIndex(s, tmp, "o_orderkey")
      val deltaMerge = merged.exceptAll(rebuilt)
        .unionByName(rebuilt.exceptAll(merged)).isEmpty
      Seq((if (lookupEq) 1 else 0, if (beats) 1 else 0,
        if (deltaMerge) 1 else 0))
        .toDF("lookup_eq", "beats_minmax", "delta_merge")
    },

    "wap_gate" -> QueryDef(
      doc = "write-audit-publish (the Iceberg WAP pattern): a table write stages OFF the serving path, every audit runs against the STAGED data, and only a clean bill swaps it live - atomicity OF the quality gate, the third leg next to stage-and-swap crash atomicity and the DataQuality checks themselves. Gate: (1) a clean write publishes and serves; (2) a write with planted negative prices is REJECTED by the composed DataQuality audits and the published v1 stays byte-untouched (readers can never observe failing data, not even transiently; staging cleaned up); (3) the result names exactly the failing audit",
      oracle = "SELECT CAST(1 AS INTEGER) AS wap_publishes, " +
        "CAST(1 AS INTEGER) AS wap_rejects_preserves_v1, " +
        "CAST(1 AS INTEGER) AS wap_names_failed_audit") { (s, dir) =>
      import s.implicits._
      import graft.operators.DataQuality
      import graft.sources.AnalysisStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val path = java.nio.file.Files.createTempDirectory("graft-wap")
        .resolve("t").toString
      def clean(rule: graft.operators.DataQuality.Rule)(
          df: org.apache.spark.sql.DataFrame): Boolean =
        DataQuality.check(df, Seq(rule)).filter(!col("passed")).isEmpty
      val audits = Seq[(String, org.apache.spark.sql.DataFrame => Boolean)](
        "key_not_null" -> clean(DataQuality.notNull("o_orderkey")) _,
        "price_non_negative" ->
          clean(DataQuality.nonNegative("o_totalprice")) _)
      val r1 = AnalysisStore.writeAuditPublish(s, path, audits)(
        st => orders.write.parquet(st))
      val publishes = r1.published &&
        s.read.parquet(path).count() == Tables.count(s, dir, "orders")
      val bad = orders.withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      val r2 = AnalysisStore.writeAuditPublish(s, path, audits)(
        st => bad.write.parquet(st))
      val served = s.read.parquet(path)
      val preserves = !r2.published &&
        served.filter(col("o_totalprice") < 0).count() == 0 &&
        served.count() == Tables.count(s, dir, "orders")
      val names = r2.failed == Seq("price_non_negative")
      Seq((if (publishes) 1 else 0, if (preserves) 1 else 0,
        if (names) 1 else 0))
        .toDF("wap_publishes", "wap_rejects_preserves_v1",
          "wap_names_failed_audit")
    },

    "events_funnel" -> QueryDef(
      doc = "ordered funnel conversion (signup -> click -> purchase within 14 days of the signup anchor): strict event-ORDER semantics, not co-occurrence - step i counts only events strictly after the user's step-(i-1) time, so a purchase before the signup does not convert; one user-keyed join + earliest-qualifying-time reduction per step (the cohort only shrinks, nothing wider than (user, anchor) carries between steps), rates against step 1 at 4dp; the oracle replays the chain step-for-step",
      oracle = """
        WITH s1 AS (SELECT user_id AS u, min(ts) AS t, min(ts) AS t1
                    FROM events WHERE event_type = 'signup' GROUP BY 1),
        s2 AS (SELECT e.user_id AS u, min(e.ts) AS t, s1.t1
               FROM events e JOIN s1 ON e.user_id = s1.u
               WHERE e.event_type = 'click' AND e.ts > s1.t
                 AND e.ts <= s1.t1 + INTERVAL 14 DAY
               GROUP BY 1, 3),
        s3 AS (SELECT e.user_id AS u, min(e.ts) AS t, s2.t1
               FROM events e JOIN s2 ON e.user_id = s2.u
               WHERE e.event_type = 'purchase' AND e.ts > s2.t
                 AND e.ts <= s2.t1 + INTERVAL 14 DAY
               GROUP BY 1, 3),
        c AS (SELECT 1 AS step_idx, 'signup' AS step,
                     CAST(count(*) AS BIGINT) AS n_users FROM s1
              UNION ALL
              SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
              UNION ALL
              SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
        SELECT step_idx, step, n_users,
               round(CAST(n_users AS DOUBLE) /
                 max(CASE WHEN step_idx = 1 THEN n_users END) OVER (), 4)
                 AS rate
        FROM c""") { (s, dir) =>
      graft.operators.Funnel.conversion(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"), withinDays = Some(14))
    },

    "events_funnel_ticks" -> QueryDef(
      doc = "streaming-funnel twin driven through PERSISTED per-tick state (the cms_window_range treatment for flatMapGroupsWithState): the 30-day event log replays as FIVE weekly ticks through funnelTickBatch - prior per-user state (three scalars) cogroups with the tick's events and each group runs advanceFunnel, the SAME closure the streaming query executes - advancement rows persist per tick, state carries across tick boundaries (users who sign up one week and click the next convert ONLY if the fold is stateful), and the final per-step counts are answered from the advancement LOG alone. The oracle replays the batch conversion chain, so the driver hash IS fold-over-ticks == streaming-semantics == batch proof",
      oracle = """
        WITH s1 AS (SELECT user_id AS u, min(ts) AS t, min(ts) AS t1
                    FROM events WHERE event_type = 'signup' GROUP BY 1),
        s2 AS (SELECT e.user_id AS u, min(e.ts) AS t, s1.t1
               FROM events e JOIN s1 ON e.user_id = s1.u
               WHERE e.event_type = 'click' AND e.ts > s1.t
                 AND e.ts <= s1.t1 + INTERVAL 14 DAY
               GROUP BY 1, 3),
        s3 AS (SELECT e.user_id AS u, min(e.ts) AS t, s2.t1
               FROM events e JOIN s2 ON e.user_id = s2.u
               WHERE e.event_type = 'purchase' AND e.ts > s2.t
                 AND e.ts <= s2.t1 + INTERVAL 14 DAY
               GROUP BY 1, 3),
        c AS (SELECT 1 AS step_idx, 'signup' AS step,
                     CAST(count(*) AS BIGINT) AS n_users FROM s1
              UNION ALL
              SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
              UNION ALL
              SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
        SELECT step_idx, step, n_users FROM c""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.EventsStreaming
      import graft.streaming.EventsStreaming.{FunnelEvent, FunnelUserState}
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          floor(datediff(to_date(col("ts")),
            lit("2024-01-01").cast("date")) / 7).cast("int").as("tick"))
        .localCheckpoint(true)
      val store = java.nio.file.Files
        .createTempDirectory("graft-funnel-ticks").toString
      var state = s.emptyDataset[FunnelUserState]
      (0 to 4).foreach { t =>
        val tickEv = ev.filter(col("tick") === t)
          .select(col("user_id"), col("ts"), col("event_type"))
          .as[FunnelEvent]
        val out = EventsStreaming.funnelTickBatch(state, tickEv,
          Seq("signup", "click", "purchase"), withinDays = Some(14))
          .localCheckpoint(true)
        out.flatMap(_.advances)
          .write.mode("overwrite").parquet(s"$store/tick=$t")
        state = out.map(_.state)
      }
      // the per-step question answered from the advancement log alone
      s.read.parquet(store)
        .groupBy(col("step_idx"), col("step"))
        .agg(count(lit(1)).as("n_users"))
    },

    "events_sessionize_ticks" -> QueryDef(
      doc = "stateful sessionization driven through PERSISTED per-tick state (the funnelTickBatch treatment for q14): the 30-day event log replays as FIVE weekly ticks through sessionTickBatch - prior OPEN-session state (five scalars per active user) cogroups with the tick's events, each group replays advanceSessions (the SAME closure the flatMapGroupsWithState twin runs) - closed sessions persist per tick, a session spanning a tick boundary stays OPEN in state and closes in whichever later tick breaks the 30-minute gap, and the final answer is the closed log UNION the flushed open tail. The oracle is q14's batch sessionization verbatim, so the driver hash IS fold-over-ticks == streaming-semantics == batch; bounds carried in epoch micros, so timestamps survive bit-exact",
      oracle = """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts,
                 CAST(sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM flagged)
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.EventsStreaming
      import graft.streaming.EventsStreaming.{SessionEvent, SessionUserState}
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(datediff(to_date(col("ts")),
            lit("2024-01-01").cast("date")) / 7).cast("int").as("tick"))
        .localCheckpoint(true)
      val store = java.nio.file.Files
        .createTempDirectory("graft-sess-ticks").toString
      var state = s.emptyDataset[SessionUserState]
      (0 to 4).foreach { t =>
        val tickEv = ev.filter(col("tick") === t)
          .select(col("user_id"), col("ts"), col("event_id"))
          .as[SessionEvent]
        val out = EventsStreaming.sessionTickBatch(state, tickEv)
          .localCheckpoint(true)
        out.flatMap(_.closed)
          .write.mode("overwrite").parquet(s"$store/tick=$t")
        state = out.map(_.state)
      }
      val open = state.map(st => EventsStreaming.SessionRow(
        st.user_id, st.session_id, st.n,
        EventsStreaming.microsToTs(st.startUs),
        EventsStreaming.microsToTs(st.endUs)))
      s.read.parquet(store).drop("tick").unionByName(open.toDF())
    },

    "events_resample_ff" -> QueryDef(
      doc = "time-series regularization with forward-fill (LOCF): each user's irregular event values projected onto their own [first, last]-day grid (sequence-explode per key - keys x span-days rows, the OUTPUT size; no global calendar cross join), gaps carry value = NULL next to the filled value_ff (a filled cell stays distinguishable from an observed one), fill is one last(ignoreNulls) running window per key - the LOCF's irreducible exchange+sort on uniform keys. Daily bucket = max(value) (deterministic under duplicate timestamps); the oracle replays grid, bucket, and IGNORE NULLS window exactly",
      oracle = """
        WITH obs AS (SELECT user_id, CAST(ts AS DATE) AS d,
                            max(value) AS v
                     FROM events GROUP BY 1, 2),
        sp AS (SELECT user_id, min(d) AS lo, max(d) AS hi
               FROM obs GROUP BY 1),
        grid AS (SELECT user_id,
                        CAST(unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY)) AS DATE) AS d
                 FROM sp),
        j AS (SELECT g.user_id, g.d, o.v
              FROM grid g LEFT JOIN obs o
                ON o.user_id = g.user_id AND o.d = g.d)
        SELECT user_id, strftime(d, '%Y-%m-%d') AS day, v AS value,
               last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS value_ff
        FROM j""") { (s, dir) =>
      graft.operators.TimeSeries.resampleDailyFF(
        Tables.load(s, dir, "events"), "user_id", "ts", "value")
    },

    "events_anomaly" -> QueryDef(
      doc = "rolling z-score anomaly detection over each user's daily spend (the monitoring primitive next to LOCF resampling): a day flags when its cents total deviates from the user's own trailing 7-observed-day baseline by more than 3 sigma, baseline EXCLUDING the current point (an outlier never pollutes its own yardstick), warm-up days never flag. The z-test is decided in integer algebra - (n-1)(nx-S)^2 > 9n(nSS-S^2) over BIGINT cents, no sqrt, no division - so the flag is bit-deterministic cross-engine and the oracle replays the same inequality verbatim. One map-side daily reduction, one per-key running window over observed days: the exchange is on uniform user ids, each partition span-bounded",
      oracle = """
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2),
        w AS (
          SELECT user_id, d, cents,
                 count(cents) OVER win AS n,
                 sum(cents) OVER win AS s,
                 sum(cents * cents) OVER win AS ss
          FROM daily
          WINDOW win AS (PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        SELECT user_id, strftime(d, '%Y-%m-%d') AS day, cents,
               CAST(CASE WHEN n < 7 THEN 0
                    WHEN (n - 1) * (7 * cents - s) * (7 * cents - s) >
                         9 * 7 * (7 * ss - s * s) THEN 1
                    ELSE 0 END AS INTEGER) AS is_anomaly
        FROM w""") { (s, dir) =>
      graft.operators.TimeSeries.rollingAnomalies(
        Tables.load(s, dir, "events"), "user_id", "ts", "value",
        n = 7, k = 3)
    },

    "events_cohort_retention" -> QueryDef(
      doc = "cohort retention matrix (the standard product-analytics surface): users cohorted by the Monday week of their FIRST event; (cohort, week-offset) cells count distinct returning users, rate against the cohort's own offset-0 size at 4dp. Scale shape: the event stream reduces map-side to distinct (user, week) pairs BEFORE any exchange - the per-user x per-period grain is the computation's natural ceiling, nothing larger ever shuffles; cohort join is |users| rows on uniform keys. Deterministic integer date arithmetic, weeks rendered ISO",
      oracle = """
        WITH act AS (SELECT DISTINCT user_id AS u,
                            CAST(date_trunc('week', ts) AS DATE) AS p
                     FROM events),
        coh AS (SELECT u, min(p) AS c FROM act GROUP BY u),
        m AS (SELECT c,
                     CAST(datediff('day', c, p) // 7 AS INTEGER) AS week_offset,
                     count(DISTINCT u) AS n_active
              FROM act JOIN coh USING (u) GROUP BY 1, 2),
        sz AS (SELECT c, n_active AS size FROM m WHERE week_offset = 0)
        SELECT strftime(m.c, '%Y-%m-%d') AS cohort, week_offset, n_active,
               round(CAST(n_active AS DOUBLE) / size, 4) AS rate
        FROM m JOIN sz USING (c)""") { (s, dir) =>
      graft.operators.Cohorts.retentionRate(
        Tables.load(s, dir, "events"), "user_id", "ts", weekly = true)
    },

    "ivm_user_stats" -> QueryDef(
      doc = "incremental view maintenance for distributive aggregates (count/sum/min/max - exactly the set whose per-group summaries merge losslessly; avg is served as sum/count): a (user_id, event_type) stats view built over 80% of events then MAINTAINED with the remaining tick via maintainAgg - the tick aggregates map-side to |delta keys| rows before one key-hash exchange against the view, so at 100 TB a refresh costs the tick, never the table. The oracle replays the FULL REBUILD over all events, so the driver hash IS the merge == rebuild proof cross-engine. Measures integerized to cents (the decimal-quantile discipline) so every merge is exact",
      oracle = """
        SELECT user_id, event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(min(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS min_cents,
               CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS max_cents
        FROM events GROUP BY user_id, event_type""") { (s, dir) =>
      import graft.operators.Incremental
      import graft.operators.Incremental.AggCol
      val keys = Seq("user_id", "event_type")
      val specs = Seq(AggCol("cnt", "count", ""),
        AggCol("sum_cents", "sum", "vc"), AggCol("min_cents", "min", "vc"),
        AggCol("max_cents", "max", "vc"))
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("vc"))
      val view = Incremental.aggView(
        ev.filter(col("event_id") % 5 =!= 0), keys, specs)
      Incremental.maintainAgg(view,
        ev.filter(col("event_id") % 5 === 0), keys, specs)
    },

    "ivm_window_range" -> QueryDef(
      doc = "range stats from PERSISTED per-day aggregate views (the IVM family's windowed-state read, sibling of cms/mg/kmv_window_range): daily (ws, user_id) count/sum/min/max views written to a store dir, read back, filtered to the same 7-day range, and FOLDED by one re-aggregation of the state (every maintained aggregate is distributive: counts and sums add, extremes take the extreme) - days x users state rows answer the range question, raw events never replay; the oracle runs the DIRECT aggregate over the range, so the driver hash is the fold == direct proof cross-engine",
      oracle = """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(min(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS min_cents,
               CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS max_cents
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-09'
        GROUP BY user_id""") { (s, dir) =>
      import graft.operators.Incremental
      import graft.operators.Incremental.AggCol
      val specs = Seq(AggCol("cnt", "count", ""),
        AggCol("sum_cents", "sum", "vc"), AggCol("min_cents", "min", "vc"),
        AggCol("max_cents", "max", "vc"))
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("ws"), col("user_id"),
          round(col("value") * 100).cast("long").as("vc"))
      val daily = Incremental.aggView(ev, Seq("ws", "user_id"), specs)
      val store = java.nio.file.Files
        .createTempDirectory("graft-ivm-windows").toString
      daily.write.mode("overwrite").parquet(store)
      Incremental.foldAggViews(
        s.read.parquet(store).filter(col("ws").between(
          lit("2024-01-03").cast("date"), lit("2024-01-09").cast("date"))),
        Seq("user_id"), specs)
    },

    "store_cdf" -> QueryDef(
      doc = "change data feed between PUBLISHED STORE VERSIONS (the Iceberg/Delta CDF read recovered for full-snapshot stores): two versions of a keyed orders projection commit into a one-table CatalogStore - v2 drops every %3 key, gains the %7 keys v1 lacked, and doubles prices on %5 keys - and changesBetween(v1, v2) classifies every surviving key added/removed/modified/unchanged by diffing the two IMMUTABLE table version dirs the catalogs reference (snapshotDiff: one id-keyed full-outer join of (id, md5) projections, each version scanned once and reduced to two narrow columns before the exchange; the pointer is never consulted, so the feed is stable under concurrent commits and works backward for rollback audits). The oracle replays the membership/content algebra directly from the orders table - the driver hash proves the store-level diff equals the semantic ground truth",
      oracle = """
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN 'removed'
                    WHEN o_orderkey % 7 = 0 THEN 'added'
                    WHEN o_orderkey % 5 = 0 THEN 'modified'
                    ELSE 'unchanged' END AS status
        FROM orders
        WHERE o_orderkey % 7 <> 0 OR o_orderkey % 3 <> 0""") { (s, dir) =>
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_totalprice").cast("string").as("content"))
      // the returned frame reads lazily from this root, so it outlives
      // the query body
      val root = java.nio.file.Files.createTempDirectory("graft-cdf")
        .toString
      val v1 = CatalogStore.commit(s, root,
        Map("t" -> orders.filter(col("o_orderkey") % 7 =!= 0))).version.get
      val v2 = CatalogStore.commit(s, root, Map("t" ->
        orders.filter(col("o_orderkey") % 3 =!= 0)
          .withColumn("content",
            when(col("o_orderkey") % 5 === 0,
              (col("content").cast("double") * 2).cast("string"))
              .otherwise(col("content"))))).version.get
      CatalogStore.changesBetween(s, root, "t", v1, v2,
        "o_orderkey", "content")
    },

    "store_erasure_gate" -> QueryDef(
      doc = "the right-to-erasure flow at 100 TB, composed from the lakehouse layers: delete every row of ONE customer from an 8-file orders table via deletion vector (addresses recorded by one filtered scan), materialize through stageAndSwap (crash-safe in-place rewrite: clean files byte-copied under their own names, only the customer's file re-encodes), then REPAIR the record-level key index - vanished-file entries drop, surviving-file entries keep verbatim, only rewritten files rescan (repairKeyIndex; a naive rebuild rescans the table). Gate: (1) erase_applied - the DV was non-empty and the swapped table holds ZERO rows of the customer; (2) others_intact - every other row survives byte-for-row (both exceptAll directions); (3) selective - exactly 1 of 8 files re-encoded (the customer's hash file), 7 byte-copied under stageAndSwap; (4) index_repaired - repair == full rebuild EXACTLY, the erased orders are UNFINDABLE through pointLookup, and a surviving probe still resolves - the index layer forgets the customer too, which naive erasure flows miss",
      oracle = "SELECT CAST(1 AS INTEGER) AS erase_applied, " +
        "CAST(1 AS INTEGER) AS others_intact, " +
        "CAST(1 AS INTEGER) AS selective, " +
        "CAST(1 AS INTEGER) AS index_repaired") { (s, dir) =>
      import s.implicits._
      import graft.operators.{Layout, ModelCollect}
      import graft.sources.AnalysisStore
      val orders = Tables.load(s, dir, "orders")
        // deterministic 1-in-3 slice: the erasure contract (DV, swap,
        // selective rewrite, index repair) is row-count free; the
        // store_versioned_gate fixture-diet treatment
        .filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val src = java.nio.file.Files.createTempDirectory("graft-erase")
        .resolve("t").toString
      orders.repartition(8, col("o_custkey")).write.parquet(src)
      val idx0 = Layout.keyIndex(s, src, "o_orderkey")
        .localCheckpoint(true)
      val target = orders.agg(min("o_custkey")).head.getLong(0)
      val erasedKeys = ModelCollect.bounded(
          orders.filter(col("o_custkey") === target)
            .select("o_orderkey"),
          4096, "erased order keys")
        .map(_.getLong(0))
      val dv = Layout.deletionVector(s, src,
        col("o_custkey") === target).localCheckpoint(true)
      var st: Layout.DvMaterialize = null
      AnalysisStore.stageAndSwap(s, src) { staging =>
        st = Layout.materializeDv(s, src, dv, staging)
      }
      val after = s.read.parquet(src)
      val selective = st.nIn == 8 && st.rewritten == 1 && st.kept == 7
      // post-swap checks and the two index builds are independent
      // reads of the swapped table — overlap them (Par: guide §2.6)
      val (eraseApplied, othersIntact, idx1, rebuilt) = Par.four(
        dv.count() == erasedKeys.size &&
          erasedKeys.nonEmpty &&
          after.filter(col("o_custkey") === target).count() == 0,
        {
          val want = orders.filter(col("o_custkey") =!= target)
          after.exceptAll(want)
            .unionByName(want.exceptAll(after)).isEmpty
        },
        Layout.repairKeyIndex(s, src, "o_orderkey", idx0)
          .localCheckpoint(true),
        Layout.keyIndex(s, src, "o_orderkey").localCheckpoint(true))
      val (repairEq, unfindable, survivorFound) = Par.three(
        idx1.exceptAll(rebuilt)
          .unionByName(rebuilt.exceptAll(idx1)).isEmpty,
        Layout.pointLookup(s, src, idx1, "o_orderkey",
          erasedKeys).count() == 0,
        {
          val survivorKey = after.agg(max("o_orderkey")).head.getLong(0)
          Layout.pointLookup(s, src, idx1, "o_orderkey",
            Seq(survivorKey)).count() >= 1
        })
      val indexRepaired = repairEq && unfindable && survivorFound
      Seq((if (eraseApplied) 1 else 0, if (othersIntact) 1 else 0,
        if (selective) 1 else 0, if (indexRepaired) 1 else 0))
        .toDF("erase_applied", "others_intact", "selective",
          "index_repaired")
    },

    "store_erasure_part_gate" -> QueryDef(
      doc = "the erasure flow on the layout a 100 TB table actually HAS - hive-partitioned (writeFull's partitionBy posture): delete one customer from a 4-partition x 2-file orders table via deletion vector, materialize through stageAndSwap with materializeDvPartitioned (COLD partitions byte-copy whole without a Spark job - dirtiness is known from the vector's own file list; dirty partitions rewrite only their hit files), then repair the record-level key index across the partition tree. Same four-leg contract as the flat store_erasure_gate: (1) erase_applied - DV non-empty and the swapped table holds ZERO rows of the customer; (2) others_intact - every other row survives, both exceptAll directions, partition column included; (3) selective - exactly 1 of 4 partitions touched and 1 of 8 files re-encoded; (4) index_repaired - repair == full rebuild exactly, erased orders unfindable via pointLookup, surviving probe resolves. Fixture is a deterministic <=6000-key slice (semantics, not IO)",
      oracle = "SELECT CAST(1 AS INTEGER) AS erase_applied, " +
        "CAST(1 AS INTEGER) AS others_intact, " +
        "CAST(1 AS INTEGER) AS selective, " +
        "CAST(1 AS INTEGER) AS index_repaired") { (s, dir) =>
      import s.implicits._
      import graft.operators.{Layout, ModelCollect}
      import graft.sources.AnalysisStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val withB = orders.withColumn("b", col("o_custkey") % 4)
      val src = java.nio.file.Files.createTempDirectory("graft-erasep")
        .resolve("t").toString
      withB.repartition(2, col("o_custkey"))
        .write.partitionBy("b").parquet(src)
      val idx0 = Layout.keyIndex(s, src, "o_orderkey")
        .localCheckpoint(true)
      val target = orders.agg(min("o_custkey")).head.getLong(0)
      val erasedKeys = ModelCollect.bounded(
          orders.filter(col("o_custkey") === target)
            .select("o_orderkey"),
          4096, "erased order keys")
        .map(_.getLong(0))
      val dv = Layout.deletionVector(s, src,
        col("o_custkey") === target).localCheckpoint(true)
      var st: Layout.DvPartMaterialize = null
      AnalysisStore.stageAndSwap(s, src) { staging =>
        st = Layout.materializeDvPartitioned(s, src, dv, staging)
      }
      val after = s.read.parquet(src)
      val eraseApplied = dv.count() == erasedKeys.size &&
        erasedKeys.nonEmpty &&
        after.filter(col("o_custkey") === target).count() == 0
      val want = withB.filter(col("o_custkey") =!= target)
      // partition-dir inference reads b back as INT; align to the
      // source frame's LONG before the row comparison
      val afterAligned = after.withColumn("b", col("b").cast("long"))
        .select(want.columns.map(col): _*)
      val othersIntact = afterAligned.exceptAll(want)
        .unionByName(want.exceptAll(afterAligned)).isEmpty
      val selective = st.partitions == 4 && st.touched == 1 &&
        st.files.nIn == 8 && st.files.rewritten == 1 &&
        st.files.kept == 7
      val idx1 = Layout.repairKeyIndex(s, src, "o_orderkey", idx0)
        .localCheckpoint(true)
      val rebuilt = Layout.keyIndex(s, src, "o_orderkey")
      val repairEq = idx1.exceptAll(rebuilt)
        .unionByName(rebuilt.exceptAll(idx1)).isEmpty
      val unfindable = Layout.pointLookup(s, src, idx1, "o_orderkey",
        erasedKeys).count() == 0
      val survivorKey = after.agg(max("o_orderkey")).head.getLong(0)
      val survivorFound = Layout.pointLookup(s, src, idx1, "o_orderkey",
        Seq(survivorKey)).count() >= 1
      val indexRepaired = repairEq && unfindable && survivorFound
      Seq((if (eraseApplied) 1 else 0, if (othersIntact) 1 else 0,
        if (selective) 1 else 0, if (indexRepaired) 1 else 0))
        .toDF("erase_applied", "others_intact", "selective",
          "index_repaired")
    },

    "store_catalog_tx" -> QueryDef(
      doc = "multi-table transactional catalog (the Nessie/'multi-table transaction' gap in first-generation lakehouse formats): tx1 commits a customer dim AND a per-customer order summary in ONE transaction, tx2 republishes only the summary (high-value orders) - the dim carries forward at its tx1 version in the new catalog map. A reader resolves the catalog pointer ONCE into a snapshot and joins the tx2 summary to the tx1 dim off that one resolution; the oracle replays both table definitions directly over the raw tables, so the driver hash proves catalog-resolved cross-table reads equal the semantic ground truth. Atomicity, isolation, time travel, and the claim protocol are store_catalog_gate's contract",
      oracle = """
        SELECT f.o_custkey, f.n_orders, f.total_cents,
               d.c_name, d.c_acctbal
        FROM (
          SELECT o_custkey, count(*) AS n_orders,
                 CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS total_cents
          FROM orders WHERE o_totalprice > 50000 GROUP BY o_custkey
        ) f JOIN (
          SELECT c_custkey, c_name, c_acctbal FROM customer
        ) d ON f.o_custkey = d.c_custkey""") { (s, dir) =>
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
      val customer = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val root = java.nio.file.Files.createTempDirectory("graft-cattx")
        .toString
      def summary(min: Double) = orders
        .filter(col("o_totalprice") > min)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("total_cents"))
      CatalogStore.commit(s, root,
        Map("dim_customer" -> customer, "fact_summary" -> summary(0.0)))
      CatalogStore.commit(s, root,
        Map("fact_summary" -> summary(50000.0)))
      val snap = CatalogStore.snapshot(s, root) // resolved ONCE
      CatalogStore.read(s, root, "fact_summary", snap)
        .join(CatalogStore.read(s, root, "dim_customer", snap),
          col("o_custkey") === col("c_custkey"))
        .select("o_custkey", "n_orders", "total_cents",
          "c_name", "c_acctbal")
    },

    "store_catalog_gate" -> QueryDef(
      doc = "catalog transaction guarantees: (1) tx_atomic - a two-table commit whose SECOND table fails its audit rolls back BOTH staged tables and the claim (pointer, catalog map, versions, and every serving byte unchanged - a reader can never observe new-A next to old-B, not even transiently); (2) tx_snapshot - catalog time travel: AS OF catalog v1, BOTH tables read their tx1 content even after tx2 republished one of them; (3) tx_carry - the table tx2 did not touch serves its v1 bytes through the v2 catalog (map carry-forward names only complete versions); (4) tx_claim - a same-number racer collides on the exclusive catalog claim and fails loudly BEFORE writing any data; (5) tx_mvcc - reads off a snapshot resolved BEFORE a later commit still see their transaction's content (snapshot isolation: the pointer is resolved once, immutable dirs do the rest)",
      oracle = "SELECT CAST(1 AS INTEGER) AS tx_atomic, " +
        "CAST(1 AS INTEGER) AS tx_snapshot, " +
        "CAST(1 AS INTEGER) AS tx_carry, " +
        "CAST(1 AS INTEGER) AS tx_claim, " +
        "CAST(1 AS INTEGER) AS tx_mvcc") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      import graft.sources.CatalogStore.Audit
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-catg")
        .toString
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      val a1 = orders.filter(col("o_orderkey") % 2 === 0)
      val b1 = orders.filter(col("o_orderkey") % 3 === 0)
      CatalogStore.commit(s, root, Map("a" -> a1, "b" -> b1))
      // (1) atomicity: a passes, b fails → everything rolls back
      val bad = CatalogStore.commit(s, root,
        Map("a" -> orders.limit(10), "b" -> orders.limit(5)),
        audits = Seq(Audit("a_ok", "a", _.count() > 0),
          Audit("b_min_rows", "b", _.count() >= 100)))
      val snapAfterFail = CatalogStore.snapshot(s, root)
      val atomic = bad == CatalogStore.CatalogTx(None, Some("b_min_rows")) &&
        snapAfterFail.version == 1 &&
        CatalogStore.catalogVersions(s, root) == Seq(1) &&
        eq(CatalogStore.read(s, root, "a", snapAfterFail), a1.toDF()) &&
        eq(CatalogStore.read(s, root, "b", snapAfterFail), b1.toDF())
      // tx2 republishes only `a`
      val a2 = orders.filter(col("o_orderkey") % 2 === 1)
      CatalogStore.commit(s, root, Map("a" -> a2))
      val snap2 = CatalogStore.snapshot(s, root)
      // (2) catalog time travel to tx1
      val snap1 = CatalogStore.snapshot(s, root, Some(1))
      val travel = snap1.tables == Map("a" -> 1, "b" -> 1) &&
        eq(CatalogStore.read(s, root, "a", snap1), a1.toDF()) &&
        eq(CatalogStore.read(s, root, "b", snap1), b1.toDF())
      // (3) carry-forward through the v2 catalog
      val carry = snap2.tables == Map("a" -> 2, "b" -> 1) &&
        eq(CatalogStore.read(s, root, "b", snap2), b1.toDF())
      // (4) claim collision, loudly, before any data moves (two
      // racers computing the SAME next meet at the exclusive create)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(root, "_cat/claim=3"),
        false).close()
      val claim = try {
        CatalogStore.commitAs(s, root, Map("a" -> orders.limit(1)),
          Seq.empty, 3)
        false
      } catch { case e: IllegalStateException =>
        e.getMessage.contains("concurrent commit") &&
          CatalogStore.snapshot(s, root).version == 2
      } finally fs.delete(
        new org.apache.hadoop.fs.Path(root, "_cat/claim=3"), false)
      // (5) MVCC: a snapshot resolved now survives a later commit
      val pinned = CatalogStore.snapshot(s, root)
      CatalogStore.commit(s, root,
        Map("a" -> orders.limit(7), "b" -> orders.limit(7)))
      val mvcc = eq(CatalogStore.read(s, root, "a", pinned), a2.toDF()) &&
        eq(CatalogStore.read(s, root, "b", pinned), b1.toDF()) &&
        CatalogStore.snapshot(s, root).tables.values.toSet == Set(3)
      Seq((if (atomic) 1 else 0, if (travel) 1 else 0,
        if (carry) 1 else 0, if (claim) 1 else 0, if (mvcc) 1 else 0))
        .toDF("tx_atomic", "tx_snapshot", "tx_carry", "tx_claim",
          "tx_mvcc")
    },

    "store_catalog_vacuum_gate" -> QueryDef(
      doc = "catalog GC with carry-forward refcounting (the lifecycle leg that bounds the transactional store's storage): vacuum keeps the newest N catalog versions (never the pointer target) and drops every table version NO kept catalog references - the subtlety being that liveness is a REFCOUNT over kept catalog maps, not an age cutoff: a dim committed once rides through every later transaction's carry-forward, so after many commits that never touched it, vacuum(keep=1) must KEEP the dim's original version dir while sweeping the fact's superseded ones. Gate: (1) trimmed - only the newest catalog survives and the fact's old versions are gone from disk; (2) carry_survives - the dim's original version dir still exists and reads row-identically through the kept snapshot (the case an age-based GC deletes and corrupts); (3) dropped_unreadable - time travel to a vacuumed catalog fails loudly; (4) idempotent - a second vacuum removes nothing",
      oracle = "SELECT CAST(1 AS INTEGER) AS trimmed, " +
        "CAST(1 AS INTEGER) AS carry_survives, " +
        "CAST(1 AS INTEGER) AS dropped_unreadable, " +
        "CAST(1 AS INTEGER) AS idempotent") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000)
      val root = java.nio.file.Files.createTempDirectory("graft-catv")
        .toString
      val dim = orders.filter(col("o_orderkey") % 3 === 0)
      CatalogStore.commit(s, root, Map("dim" -> dim,
        "fact" -> orders.filter(col("o_orderkey") % 2 === 0)))
      CatalogStore.commit(s, root,
        Map("fact" -> orders.filter(col("o_orderkey") % 2 === 1)))
      val factFinal = orders.filter(col("o_orderkey") % 5 === 0)
      CatalogStore.commit(s, root, Map("fact" -> factFinal))
      val vac = CatalogStore.vacuum(s, root, keep = 1)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def dirExists(t: String, v: Int) = fs.exists(
        new org.apache.hadoop.fs.Path(root, s"$t/v=$v"))
      val trimmed = vac.catalogs == Seq(1, 2) &&
        vac.tableVersions == Map("fact" -> Seq(1, 2)) &&
        CatalogStore.catalogVersions(s, root) == Seq(3) &&
        !dirExists("fact", 1) && !dirExists("fact", 2) &&
        dirExists("fact", 3)
      val snap = CatalogStore.snapshot(s, root)
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      val carry = dirExists("dim", 1) &&
        snap.tables == Map("dim" -> 1, "fact" -> 3) &&
        eq(CatalogStore.read(s, root, "dim", snap), dim.toDF()) &&
        eq(CatalogStore.read(s, root, "fact", snap), factFinal.toDF())
      val unreadable = try {
        CatalogStore.snapshot(s, root, Some(1)); false
      } catch { case _: Exception => true }
      val again = CatalogStore.vacuum(s, root, keep = 1)
      val idem = again.catalogs.isEmpty && again.tableVersions.isEmpty
      Seq((if (trimmed) 1 else 0, if (carry) 1 else 0,
        if (unreadable) 1 else 0, if (idem) 1 else 0))
        .toDF("trimmed", "carry_survives", "dropped_unreadable",
          "idempotent")
    },

    "stats_join_order_gate" -> QueryDef(
      doc = "publish-time statistics feed Catalyst's join planning (the CBO gap a path-based lakehouse has vs metastore tables: a bare parquet scan estimates ONLY file bytes, so build/broadcast-side selection runs blind until AQE's runtime re-plan - one shuffle too late at 100 TB): CatalogStore.analyze profiles each committed table once (rowCount/NDV/nulls/min-max via Profile, bytes from the listing), persists a sidecar INSIDE the immutable version dir, and ScanStatsRule attaches them to matching scans as catalog statistics. Gate legs: (1) stats_injected - a catalog read's optimized plan carries the ANALYZEd sizeInBytes, not the raw file estimate; (2) honest_broadcasts_dim - with truthful stats the star join broadcasts the 40-row dim; (3) flipped_broadcasts_fact - re-registering LYING stats (fact claimed tiny, dim claimed huge) flips the broadcast side: the planner provably follows the registered stats, the q39-style build-side decision is stats-driven; (4) rows_eq - both plans return identical rows (stats steer scheduling, never results)",
      oracle = "SELECT CAST(1 AS INTEGER) AS stats_injected, " +
        "CAST(1 AS INTEGER) AS honest_broadcasts_dim, " +
        "CAST(1 AS INTEGER) AS flipped_broadcasts_fact, " +
        "CAST(1 AS INTEGER) AS rows_eq") { (s, dir) =>
      import s.implicits._
      import graft.plans.{ScanStatsCatalog, TableStats}
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_custkey") % 40).as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val dim = s.range(40).select(col("id").as("k"),
        concat(lit("seg"), col("id") % 5).as("segment"))
      val root = java.nio.file.Files.createTempDirectory("graft-stats")
        .toString
      try {
        CatalogStore.commit(s, root,
          Map("fact_sales" -> orders, "dim_seg" -> dim))
        val snap = CatalogStore.snapshot(s, root)
        val ts = CatalogStore.analyze(s, root, snap)
        val factRead = CatalogStore.read(s, root, "fact_sales", snap)
        val dimRead = CatalogStore.read(s, root, "dim_seg", snap)
        val injected = factRead.queryExecution.optimizedPlan.stats
          .sizeInBytes == BigInt(ts("fact_sales").sizeInBytes) &&
          ts("fact_sales").rowCount > ts("dim_seg").rowCount
        def broadcastLeaves(df: org.apache.spark.sql.DataFrame): Seq[String] =
          graft.plans.PlanMetrics.broadcastLeafPaths(df)
        def q() = factRead.join(dimRead, "k").groupBy("segment")
          .agg(sum("cents").as("cents"), count(lit(1)).as("n"))
        val honest = q()
        val honestSides = broadcastLeaves(honest)
        val honestDim = honestSides.exists(_.contains("dim_seg")) &&
          !honestSides.exists(_.contains("fact_sales"))
        val honestRows = honest.localCheckpoint(true)
        // the lie, for the gate: stats now claim the fact is tiny and
        // the dim is huge — a stats-driven planner MUST flip sides
        val factPath = s"$root/fact_sales/v=1"
        val dimPath = s"$root/dim_seg/v=1"
        ScanStatsCatalog.register(factPath,
          TableStats(40L, 2048L, Map.empty))
        ScanStatsCatalog.register(dimPath,
          TableStats(5000000L, 500L << 20, Map.empty))
        val flipped = q()
        val flippedSides = broadcastLeaves(flipped)
        val flippedFact = flippedSides.exists(_.contains("fact_sales")) &&
          !flippedSides.exists(_.contains("dim_seg"))
        val rowsEq = flipped.exceptAll(honestRows)
          .unionByName(honestRows.exceptAll(flipped)).isEmpty
        Seq((if (injected) 1 else 0, if (honestDim) 1 else 0,
          if (flippedFact) 1 else 0, if (rowsEq) 1 else 0))
          .toDF("stats_injected", "honest_broadcasts_dim",
            "flipped_broadcasts_fact", "rows_eq")
      } finally ScanStatsCatalog.clear()
    },

    "report_time_travel" -> QueryDef(
      doc = "time-travel SQL surface over the transactional catalog: tx1 publishes the month-level order fact, tx2 republishes it FILTERED (a bad upstream drop) - registerSnapshotViews(AS OF v1) re-registers every table of the v1 snapshot as temp views under its plain name, so the report layer's verbatim SQL replays against history with ZERO query rewrite (the reports.json posture: SQL names tables, the catalog decides which immutable version dirs those names mean). The result is the report AT v1; the oracle recomputes it from the raw orders table, so the driver hash proves the historical replay equals the semantic ground truth, not just 'some rows'",
      oracle = """
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cents
        FROM orders WHERE o_orderkey < 6000
        GROUP BY 1""") { (s, dir) =>
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-tt")
        .toString
      CatalogStore.commit(s, root, Map("orders_hist" -> orders))
      // tx2: the regrettable republish time travel must see PAST
      CatalogStore.commit(s, root,
        Map("orders_hist" -> orders.filter(col("o_orderkey") % 7 === 0)))
      try {
        CatalogStore.registerSnapshotViews(s, root, version = Some(1))
        s.sql("""
          SELECT month, count(*) AS n_orders,
                 CAST(sum(cents) AS BIGINT) AS cents
          FROM orders_hist GROUP BY month""").localCheckpoint(true)
      } finally s.catalog.dropTempView("orders_hist")
    },

    "store_catalog_history" -> QueryDef(
      doc = "DESCRIBE-HISTORY surface over the transactional catalog: one row per (catalog version, table) across every complete catalog file, with the OWNING REF named (branch transactions must stay distinguishable from main history - 'when did X last change on main' cannot count an unmerged WIP commit) and the pointer's current version flagged. Two fixed main commits plus one BRANCH commit make the table deterministic: the driver hash pins carry-forward bookkeeping AND ref labeling exactly - the untouched dim rides through tx2's map at its tx1 version, the branch's row carries ref_name='wip', only the newest main catalog is current. Metadata-sized by design (catalog files are |versions| x |tables| lines)",
      oracle = """
        SELECT * FROM (VALUES
          (1, 'main', 0, 'dim_h', 1), (1, 'main', 0, 'fact_h', 1),
          (2, 'main', 1, 'dim_h', 1), (2, 'main', 1, 'fact_h', 2),
          (3, 'wip', 0, 'dim_h', 1), (3, 'wip', 0, 'fact_h', 2),
          (3, 'wip', 0, 'staged_h', 3))
          AS t(cat_version, ref_name, is_current, table_name,
               table_version)""") { (s, dir) =>
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 3000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-hist")
        .toString
      CatalogStore.commit(s, root, Map(
        "dim_h" -> orders.limit(20), "fact_h" -> orders))
      CatalogStore.commit(s, root,
        Map("fact_h" -> orders.filter(col("o_orderkey") % 2 === 0)))
      CatalogStore.createBranch(s, root, "wip")
      CatalogStore.commit(s, root,
        Map("staged_h" -> orders.limit(7)), ref = "wip")
      CatalogStore.history(s, root)
    },

    "store_schema_evolve_gate" -> QueryDef(
      doc = "commit-time schema contract on the transactional catalog (the enforcement/evolution split Delta ships and a bare-path lakehouse lacks - at 100 TB the common failure is an upstream job silently growing a column and every consumer discovering it in prod): (1) enforced - a commit that widens a committed table's schema WITHOUT the explicit evolve flag is rejected loudly (message names the column and the fix) BEFORE any metadata moves: version, dirs, and claim all byte-identical after the rejection; (2) evolved - the same commit with evolve=true lands, and the current read serves the new column; (3) travel_schema - time travel to v1 reads exactly the OLD columns (each version serves its own schema; evolution never rewrites history); (4) immutable_types - dropping or retyping a committed column is rejected even under evolve (a rename/retype is a new table, not an evolution)",
      oracle = "SELECT CAST(1 AS INTEGER) AS enforced, " +
        "CAST(1 AS INTEGER) AS evolved, " +
        "CAST(1 AS INTEGER) AS travel_schema, " +
        "CAST(1 AS INTEGER) AS immutable_types") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val base = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-schev")
        .toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      CatalogStore.commit(s, root, Map("t" -> base))
      val widened = base.withColumn("channel",
        concat(lit("c"), col("o_custkey") % 3))
      // (1) enforcement is the default: silent widening fails loudly
      // and the store is byte-identical (no claim, no v=2 dir)
      val enforced = (try {
        CatalogStore.commit(s, root, Map("t" -> widened)); false
      } catch {
        case e: CatalogStore.SchemaEvolutionException =>
          e.getMessage.contains("channel") &&
            e.getMessage.contains("evolve = true")
      }) && CatalogStore.snapshot(s, root).version == 1 &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, "t/v=2")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, "_cat/claim=2"))
      // (2) explicit evolution lands and serves the new column
      val tx2 = CatalogStore.commit(s, root, Map("t" -> widened),
        evolve = true)
      val snap2 = CatalogStore.snapshot(s, root)
      val evolved = tx2.version.contains(2) &&
        eq(CatalogStore.read(s, root, "t", snap2), widened.toDF())
      // (3) each version serves its OWN schema: v1 has no `channel`
      val snap1 = CatalogStore.snapshot(s, root, Some(1))
      val travel = CatalogStore.read(s, root, "t", snap1)
        .columns.toSeq == base.columns.toSeq &&
        eq(CatalogStore.read(s, root, "t", snap1), base.toDF())
      // (4) drop and retype are rejected EVEN under evolve
      val dropRejected = try {
        CatalogStore.commit(s, root,
          Map("t" -> widened.drop("o_custkey")), evolve = true); false
      } catch { case _: CatalogStore.SchemaEvolutionException => true }
      val retypeRejected = try {
        CatalogStore.commit(s, root,
          Map("t" -> widened.withColumn("channel",
            col("o_custkey") * 1.0)), evolve = true); false
      } catch { case _: CatalogStore.SchemaEvolutionException => true }
      val immutable = dropRejected && retypeRejected &&
        CatalogStore.snapshot(s, root).version == 2
      Seq((if (enforced) 1 else 0, if (evolved) 1 else 0,
        if (travel) 1 else 0, if (immutable) 1 else 0))
        .toDF("enforced", "evolved", "travel_schema", "immutable_types")
    },

    "store_branch_wap_gate" -> QueryDef(
      doc = "named-ref branches on the transactional catalog - write-audit-publish at BRANCH granularity (the Nessie/Iceberg-refs tier: stage whole multi-table transactions on a movable ref, inspect them with full engine SQL, publish to main as one metadata-only merge): (1) isolated - commits to the branch never move the main pointer and main readers never observe branch data, even transiently; (2) branch_reads - snapshotRef serves the branch's own commits PLUS main's untouched tables carried forward (the branch is a complete world, not a diff); (3) audited_merge - a failing audit on the branch blocks nothing on main and costs main nothing; after a fixing branch commit, mergeBranch publishes the branch's tables to main ATOMICALLY; (4) zero_copy - the merged main map POINTS at the branch's immutable version dir (same physical path, zero bytes rewritten - Nessie's merge model, which is what makes branch workflows affordable at 100 TB)",
      oracle = "SELECT CAST(1 AS INTEGER) AS isolated, " +
        "CAST(1 AS INTEGER) AS branch_reads, " +
        "CAST(1 AS INTEGER) AS audited_merge, " +
        "CAST(1 AS INTEGER) AS zero_copy") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-brw")
        .toString
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      val dim = orders.filter(col("o_orderkey") % 3 === 0)
      CatalogStore.commit(s, root, Map("dim" -> dim)) // main v1
      CatalogStore.createBranch(s, root, "load")
      // the branch stages a BAD fact (too few rows) - on main:
      // nothing happens, ever
      val bad = orders.limit(5)
      CatalogStore.commit(s, root, Map("fact" -> bad), ref = "load")
      val isolated =
        CatalogStore.currentVersion(s, root).contains(1) &&
        CatalogStore.snapshot(s, root).tables == Map("dim" -> 1)
      // the branch world: its fact plus main's dim carried forward
      val bSnap = CatalogStore.snapshotRef(s, root, "load")
      val branchReads = bSnap.tables.keySet == Set("dim", "fact") &&
        eq(CatalogStore.read(s, root, "dim", bSnap), dim.toDF()) &&
        eq(CatalogStore.read(s, root, "fact", bSnap), bad.toDF())
      // audit ON the branch (full engine SQL over the staged world)
      // fails -> fix with another branch commit -> merge publishes
      val auditFailed = CatalogStore
        .read(s, root, "fact", bSnap).count() < 100
      val good = orders.filter(col("o_orderkey") % 2 === 0)
      CatalogStore.commit(s, root, Map("fact" -> good), ref = "load")
      val factVer = CatalogStore.snapshotRef(s, root, "load")
        .tables("fact")
      val merge = CatalogStore.mergeBranch(s, root, "load")
      val mainSnap = CatalogStore.snapshot(s, root)
      val auditedMerge = auditFailed && merge.tables == Seq("fact") &&
        mainSnap.tables == Map("dim" -> 1, "fact" -> factVer) &&
        eq(CatalogStore.read(s, root, "fact", mainSnap), good.toDF())
      // zero-copy: main serves the branch's PHYSICAL dir
      val zeroCopy = CatalogStore.tablePath(root, "fact", mainSnap) ==
        s"$root/fact/v=$factVer" && merge.fastForward
      Seq((if (isolated) 1 else 0, if (branchReads) 1 else 0,
        if (auditedMerge) 1 else 0, if (zeroCopy) 1 else 0))
        .toDF("isolated", "branch_reads", "audited_merge", "zero_copy")
    },

    "store_branch_merge_gate" -> QueryDef(
      doc = "divergent-history merges on the catalog's named refs: (1) disjoint_merged - branch changed table B while main changed table A; the merge commit combines BOTH (main's A at main's version, branch's B at the branch's version) with no fast-forward and no data copy; (2) conflict_loud - when the SAME table changed on both sides since the fork, mergeBranch refuses with the table named (a silent last-writer-wins here is how a 100 TB lakehouse loses a day of writes) and main is byte-unchanged by the refused merge; (3) force_wins - force=true is the explicit override: branch wins at table granularity; (4) numbers_shared - version numbers are one claim namespace across refs, yet main's frontier NEVER adopts a branch catalog: a branch commit between two main commits leaves main's history linear and its map free of branch tables",
      oracle = "SELECT CAST(1 AS INTEGER) AS disjoint_merged, " +
        "CAST(1 AS INTEGER) AS conflict_loud, " +
        "CAST(1 AS INTEGER) AS force_wins, " +
        "CAST(1 AS INTEGER) AS numbers_shared") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-brm")
        .toString
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      CatalogStore.commit(s, root, Map(
        "a" -> orders.limit(10), "b" -> orders.limit(10)))
      CatalogStore.createBranch(s, root, "wip")
      val bBranch = orders.filter(col("o_orderkey") % 5 === 0)
      CatalogStore.commit(s, root, Map("b" -> bBranch), ref = "wip")
      val aMain = orders.limit(22)
      CatalogStore.commit(s, root, Map("a" -> aMain))
      // (4) numbers shared, histories separate: the branch took a
      // number between main's commits; main's map must not know it
      val preMerge = CatalogStore.snapshot(s, root)
      val numbersShared = !preMerge.tables.values.toSet
        .contains(2) /* branch's number */ &&
        CatalogStore.catMeta(s, root, preMerge.version).ref == "main"
      // (1) disjoint merge: both sides' changes land in one commit
      val m = CatalogStore.mergeBranch(s, root, "wip")
      val postMerge = CatalogStore.snapshot(s, root)
      val disjoint = !m.fastForward && m.tables == Seq("b") &&
        eq(CatalogStore.read(s, root, "a", postMerge), aMain.toDF()) &&
        eq(CatalogStore.read(s, root, "b", postMerge), bBranch.toDF())
      // (2) conflict: both sides change b since the new fork
      CatalogStore.createBranch(s, root, "wip2")
      CatalogStore.commit(s, root, Map("b" -> orders.limit(7)),
        ref = "wip2")
      CatalogStore.commit(s, root, Map("b" -> orders.limit(9)))
      val snapBefore = CatalogStore.snapshot(s, root)
      val conflictLoud = (try {
        CatalogStore.mergeBranch(s, root, "wip2"); false
      } catch {
        case e: CatalogStore.MergeConflictException =>
          e.tables == Seq("b")
      }) && CatalogStore.snapshot(s, root) == snapBefore
      // (3) the explicit override: branch wins at table granularity
      CatalogStore.mergeBranch(s, root, "wip2", force = true)
      val forceWins = CatalogStore.read(s, root, "b",
        CatalogStore.snapshot(s, root)).count() == 7
      Seq((if (disjoint) 1 else 0, if (conflictLoud) 1 else 0,
        if (forceWins) 1 else 0, if (numbersShared) 1 else 0))
        .toDF("disjoint_merged", "conflict_loud", "force_wins",
          "numbers_shared")
    },

    "store_tag_gate" -> QueryDef(
      doc = "immutable tags on the transactional catalog (release names for time travel: 'the eval ran against v2024.1' must stay answerable for as long as the tag lives, whatever vacuum does meanwhile): (1) tag_read - snapshotRef by tag name serves the tagged catalog's exact content after later commits superseded it; (2) immutable - re-creating an existing tag fails loudly, and committing TO a tag is rejected with the branch/tag distinction named; (3) vacuum_pins - vacuum(keep=1) that would drop the tagged catalog keeps it AND every table version its map references (an age/keep-based GC alone deletes the bytes a compliance replay needs); (4) drop_sweeps - dropTag ends the pin: the next vacuum reclaims the catalog and its now-unreferenced table versions, and time travel to it fails loudly",
      oracle = "SELECT CAST(1 AS INTEGER) AS tag_read, " +
        "CAST(1 AS INTEGER) AS immutable, " +
        "CAST(1 AS INTEGER) AS vacuum_pins, " +
        "CAST(1 AS INTEGER) AS drop_sweeps") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-tag")
        .toString
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      val rel = orders.filter(col("o_orderkey") % 4 === 0)
      CatalogStore.commit(s, root, Map("t" -> rel)) // v1
      CatalogStore.createTag(s, root, "v2024.1")
      CatalogStore.commit(s, root, Map("t" -> orders.limit(60)))
      CatalogStore.commit(s, root, Map("t" -> orders.limit(70)))
      val tagged = CatalogStore.snapshotRef(s, root, "v2024.1")
      val tagRead = tagged.version == 1 &&
        eq(CatalogStore.read(s, root, "t", tagged), rel.toDF())
      val immutable = (try {
        CatalogStore.createTag(s, root, "v2024.1"); false
      } catch { case _: IllegalArgumentException => true }) &&
        (try {
          CatalogStore.commit(s, root, Map("t" -> rel), ref = "v2024.1")
          false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("TAG") })
      // vacuum would drop catalog 1 - the tag pins it and t/v=1
      val vac = CatalogStore.vacuum(s, root, keep = 1, claimAgeMs = 0L)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val vacuumPins = vac.catalogs == Seq(2) &&
        vac.tableVersions == Map("t" -> Seq(2)) &&
        fs.exists(new org.apache.hadoop.fs.Path(root, "t/v=1")) &&
        eq(CatalogStore.read(s, root, "t",
          CatalogStore.snapshotRef(s, root, "v2024.1")), rel.toDF())
      CatalogStore.dropTag(s, root, "v2024.1")
      val vac2 = CatalogStore.vacuum(s, root, keep = 1, claimAgeMs = 0L)
      val dropSweeps = vac2.catalogs == Seq(1) &&
        vac2.tableVersions == Map("t" -> Seq(1)) &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, "t/v=1")) &&
        (try { CatalogStore.snapshot(s, root, Some(1)); false }
         catch { case _: Exception => true })
      Seq((if (tagRead) 1 else 0, if (immutable) 1 else 0,
        if (vacuumPins) 1 else 0, if (dropSweeps) 1 else 0))
        .toDF("tag_read", "immutable", "vacuum_pins", "drop_sweeps")
    },

    "report_branch_audit" -> QueryDef(
      doc = "the branch-audit REPORT: a staging branch carries the next load of the month-level order fact while main still serves the previous one - the auditor's query (month, orders, cents off snapshotRef) runs with full engine SQL against the BRANCH world before anything reaches a consumer. The oracle recomputes the report from the raw orders table, so the driver hash proves a branch read equals the semantic ground truth (not just 'some rows'); the main world is asserted untouched inside the build (its pointer version is folded into a column the oracle also pins)",
      oracle = """
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cents,
               CAST(1 AS INTEGER) AS main_version
        FROM orders WHERE o_orderkey < 6000
        GROUP BY 1""") { (s, dir) =>
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      // main serves a PARTIAL load; the branch stages the full one
      val root = java.nio.file.Files.createTempDirectory("graft-bra")
        .toString
      CatalogStore.commit(s, root,
        Map("fact" -> orders.filter(col("o_orderkey") % 11 === 0)))
      CatalogStore.createBranch(s, root, "staging")
      CatalogStore.commit(s, root,
        Map("fact" -> orders.filter(col("o_orderkey") < 6000)),
        ref = "staging")
      val bSnap = CatalogStore.snapshotRef(s, root, "staging")
      // main must still be the partial v1 world while we audit
      val mainV = CatalogStore.currentVersion(s, root).getOrElse(-1)
      CatalogStore.read(s, root, "fact", bSnap)
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").cast("long").as("cents"))
        .withColumn("main_version", lit(mainV).cast("int"))
        .localCheckpoint(true)
    },

    "store_constraint_gate" -> QueryDef(
      doc = "declarative catalog-persisted constraints (Delta's ADD CONSTRAINT tier: the contract lives IN the catalog and outlives the pipeline that declared it - the 100 TB failure it closes is the second writer, or the human with a notebook, publishing the same table without the first pipeline's checks): (1) add_validates - ADD CONSTRAINT over data that already violates it is rejected (a contract nobody validated is worse than none) and the catalog records nothing; (2) enforced - after a clean add, a violating commit is rejected BEFORE any metadata moves (claim, version dirs, pointer all byte-identical) with the constraint, kind, and an offending row named; (3) carried - the constraint rides the catalog's carry-forward: still enforced after unrelated commits, and dropConstraint ends enforcement; (4) unique_key - UNIQUE over the order key rejects a duplicated load and passes the deduplicated one (one aggregation per commit, the documented cost); (5) merge_gated - a branch that forked BEFORE the constraint existed stages violating data; mergeBranch enforces MAIN's set on the merged tables and refuses - the WAP close",
      oracle = "SELECT CAST(1 AS INTEGER) AS add_validates, " +
        "CAST(1 AS INTEGER) AS enforced, " +
        "CAST(1 AS INTEGER) AS carried, " +
        "CAST(1 AS INTEGER) AS unique_key, " +
        "CAST(1 AS INTEGER) AS merge_gated") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      import graft.sources.CatalogStore.{Constraint,
        ConstraintViolationException}
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-cns")
        .toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      CatalogStore.commit(s, root, Map("t" -> orders.limit(50)))
      // (1) the ADD validates existing data: a bound the data already
      // breaks is rejected and nothing is recorded
      val addValidates = (try {
        CatalogStore.addConstraints(s, root, Seq(
          Constraint.check("t", "tiny", "o_totalprice < 1"))); false
      } catch { case _: ConstraintViolationException => true }) &&
        CatalogStore.constraintsOf(s, root,
          CatalogStore.snapshot(s, root)).isEmpty
      // a clean add lands as a metadata-only commit
      CatalogStore.addConstraints(s, root, Seq(
        Constraint.check("t", "price_pos", "o_totalprice >= 0")))
      val preBad = CatalogStore.snapshot(s, root)
      // (2) violating commit rejected pre-claim, store byte-identical
      val bad = orders.limit(20).withColumn("o_totalprice", lit(-1.0))
      val enforced = (try {
        CatalogStore.commit(s, root, Map("t" -> bad)); false
      } catch { case e: ConstraintViolationException =>
        e.constraint == "price_pos" && e.getMessage.contains("CHECK")
      }) && CatalogStore.snapshot(s, root) == preBad &&
        !fs.exists(new org.apache.hadoop.fs.Path(root,
          s"t/v=${preBad.version + 1}")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(root,
          s"_cat/claim=${preBad.version + 1}"))
      // (3) carried: unrelated commits later, the same bad data still
      // rejects; drop ends enforcement
      CatalogStore.commit(s, root, Map("other" -> orders.limit(5)))
      val stillRejected = try {
        CatalogStore.commit(s, root, Map("t" -> bad)); false
      } catch { case _: ConstraintViolationException => true }
      CatalogStore.dropConstraint(s, root, "t", "price_pos")
      val carried = stillRejected &&
        CatalogStore.commit(s, root, Map("t" -> bad)).committed
      // (4) UNIQUE: the double-loaded fact rejects, the dedup passes
      CatalogStore.addConstraints(s, root, Seq(
        Constraint.unique("t", Seq("o_orderkey"))))
      val dup = orders.limit(30).unionAll(orders.limit(10))
      val uniqueKey = (try {
        CatalogStore.commit(s, root, Map("t" -> dup)); false
      } catch { case e: ConstraintViolationException =>
        e.getMessage.contains("UNIQUE")
      }) && CatalogStore.commit(s, root,
        Map("t" -> dup.dropDuplicates("o_orderkey"))).committed
      // (5) merge gate: a branch forked before the constraint existed
      // carries violating data; main's set refuses the merge
      CatalogStore.addConstraints(s, root, Seq(
        Constraint.check("t", "key_pos", "o_orderkey >= 0")))
      CatalogStore.createBranch(s, root, "old",
        at = Some(1)) // pre-constraint fork
      CatalogStore.commit(s, root, Map("t" -> orders.limit(8)
        .withColumn("o_orderkey", lit(-5L))), ref = "old")
      val preMergeSnap = CatalogStore.snapshot(s, root)
      val mergeGated = (try {
        CatalogStore.mergeBranch(s, root, "old", force = true); false
      } catch { case e: ConstraintViolationException =>
        e.constraint == "key_pos"
      }) && CatalogStore.snapshot(s, root) == preMergeSnap
      Seq((if (addValidates) 1 else 0, if (enforced) 1 else 0,
        if (carried) 1 else 0, if (uniqueKey) 1 else 0,
        if (mergeGated) 1 else 0))
        .toDF("add_validates", "enforced", "carried", "unique_key",
          "merge_gated")
    },

    "store_upsert" -> QueryDef(
      doc = "MERGE INTO on the transactional catalog (the DML tier over the commit protocol: publish = INSERT OVERWRITE, this = row-level upsert with copy-on-write at version granularity): base fact committed, then an update batch whose keys half-overlap - matched keys REPLACE, new keys APPEND, untouched rows carry. The oracle replays the merge algebra (updates UNION ALL base WHERE NOT EXISTS matching update) over the raw orders table, so the driver hash proves catalog MERGE semantics equal the relational ground truth; the derived-CAS loop (re-derive when a concurrent writer moves the base version - the lost-update race) is CatalogDmlSpec's contract",
      oracle = """
        WITH base AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders WHERE o_orderkey < 4000),
        upd AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) + 7 AS cents
          FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 5000)
        SELECT k, cents FROM upd
        UNION ALL
        SELECT b.k, b.cents FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)""") { (s, dir) =>
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val root = java.nio.file.Files.createTempDirectory("graft-ups")
        .toString
      CatalogStore.commit(s, root,
        Map("fact" -> orders.filter(col("k") < 4000)))
      CatalogStore.upsertTable(s, root, "fact",
        orders.filter(col("k") >= 2000 && col("k") < 5000)
          .withColumn("cents", col("cents") + 7),
        keys = Seq("k"))
      CatalogStore.readCurrent(s, root, "fact").localCheckpoint(true)
    },

    "store_catalog_cdf" -> QueryDef(
      doc = "change data feed between CATALOG versions - 'what did that transaction change', composed with the DML tier: tx1 publishes the keyed fact, tx2 UPSERTs a half-overlapping batch (matched keys modify, new keys add), tx3 DELETEs the low keys - changesBetween(cat 1, cat 3) diffs the two immutable table versions those catalogs reference (snapshotDiff's one id-keyed join of (id, md5) projections; carried-forward identical versions short-circuit to a join-free unchanged projection). The oracle replays the upsert+delete membership algebra from the raw orders table, so the driver hash proves the catalog-level feed equals the semantic ground truth across a realistic DML history",
      oracle = """
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey < 500 THEN 'removed'
                    WHEN o_orderkey < 2000 THEN 'unchanged'
                    WHEN o_orderkey < 4000 THEN 'modified'
                    ELSE 'added' END AS status
        FROM orders WHERE o_orderkey < 5000""") { (s, dir) =>
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long")
            .cast("string").as("content"))
      val root = java.nio.file.Files.createTempDirectory("graft-ccdf")
        .toString
      CatalogStore.commit(s, root,
        Map("fact" -> orders.filter(col("k") < 4000)))
      CatalogStore.upsertTable(s, root, "fact",
        orders.filter(col("k") >= 2000 && col("k") < 5000)
          .withColumn("content", concat(col("content"), lit("x"))),
        keys = Seq("k"))
      CatalogStore.deleteWhere(s, root, "fact", col("k") < 500)
      CatalogStore.changesBetween(s, root, "fact", 1, 3,
        "k", "content").localCheckpoint(true)
    },

    "store_rename_gate" -> QueryDef(
      doc = "column rename WITHOUT rewrite (the Iceberg field-mapping answer, recovered as a version-stamped rename chain in the catalog metadata - closing the schema contract's 'a rename is a new table' with the feature real lakehouses ship; at 100 TB a rename that rewrites the table is a day of cluster time, this is one metadata file): (1) metadata_only - renameColumn lands a data-free catalog commit: no new table version, the old version's files byte-identical, yet the current read serves the NEW name over the OLD bytes; (2) travel_names - time travel to the pre-rename catalog serves the OLD name (old catalogs simply don't carry the mapping); (3) chained_generations - a post-rename commit writes the new name physically and a SECOND rename maps BOTH physical generations; upsert reads and writes the logical name across them; (4) guarded - renaming a constraint-referenced column is refused with the constraint named (the stored expression would silently stop matching); renaming onto an existing column is refused",
      oracle = "SELECT CAST(1 AS INTEGER) AS metadata_only, " +
        "CAST(1 AS INTEGER) AS travel_names, " +
        "CAST(1 AS INTEGER) AS chained_generations, " +
        "CAST(1 AS INTEGER) AS guarded") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      import graft.sources.CatalogStore.Constraint
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .filter(col("k") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-ren")
        .toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      CatalogStore.commit(s, root, Map("t" -> orders))
      val filesBefore = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, "t/v=1"))
        .filter(_.isFile)
        .map(f => f.getPath.getName -> f.getLen).toMap
      CatalogStore.renameColumn(s, root, "t", "cents", "amount")
      val snap = CatalogStore.snapshot(s, root)
      val metadataOnly = snap.tables == Map("t" -> 1) &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, "t/v=2")) &&
        fs.listStatus(new org.apache.hadoop.fs.Path(root, "t/v=1"))
          .filter(_.isFile)
          .map(f => f.getPath.getName -> f.getLen).toMap == filesBefore &&
        eq(CatalogStore.read(s, root, "t", snap),
          orders.withColumnRenamed("cents", "amount"))
      val travelNames = CatalogStore.read(s, root, "t",
        CatalogStore.snapshot(s, root, Some(1)))
        .columns.toSeq == Seq("k", "cents")
      // a new physical generation under the new name, then a second
      // rename spanning both generations, then DML over it
      CatalogStore.commit(s, root,
        Map("t" -> orders.withColumnRenamed("cents", "amount")
          .filter(col("k") % 2 === 0)))
      CatalogStore.renameColumn(s, root, "t", "amount", "amt")
      CatalogStore.upsertTable(s, root, "t",
        orders.withColumnRenamed("cents", "amt")
          .filter(col("k") % 2 === 1), Seq("k"))
      val chained = eq(CatalogStore.read(s, root, "t",
        CatalogStore.snapshot(s, root)),
        orders.withColumnRenamed("cents", "amt")) &&
        // generation 1 (physical `cents`) through the chain at the
        // mid catalog: logical `amount`
        CatalogStore.read(s, root, "t",
          CatalogStore.snapshot(s, root, Some(2)))
          .columns.toSeq == Seq("k", "amount")
      CatalogStore.addConstraints(s, root, Seq(
        Constraint.check("t", "amt_pos", "amt >= 0")))
      val guarded = (try {
        CatalogStore.renameColumn(s, root, "t", "amt", "x"); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("amt_pos")
      }) && (try {
        CatalogStore.renameColumn(s, root, "t", "k", "amt"); false
      } catch { case _: IllegalArgumentException => true })
      Seq((if (metadataOnly) 1 else 0, if (travelNames) 1 else 0,
        if (chained) 1 else 0, if (guarded) 1 else 0))
        .toDF("metadata_only", "travel_names", "chained_generations",
          "guarded")
    },

    "store_sql_ddl_gate" -> QueryDef(
      doc = "the catalog's TEXT command surface (CatalogSql - the reference's whole operational posture is SQL text and JSON config, so an engine tier reachable only from Scala would be a regression for that user): one regular grammar, each statement mapping 1:1 onto a CatalogStore API so the parser adds a surface, never semantics. The gate drives a full lifecycle purely through text - CREATE TAG/BRANCH, DELETE FROM..WHERE (SQL NULL semantics ride through), ADD CONSTRAINT CHECK + UNIQUE (enforcement bites a later commit), DROP CONSTRAINT, ALTER TABLE RENAME COLUMN (guarded by the constraint first, landing after the drop), OPTIMIZE (compact + ZORDER BY), MERGE BRANCH, RESTORE TO, SHOW REFS/CONSTRAINTS, VACUUM KEEP - and pins: (1) text_dml - the delete/rename/optimize sequence reads back exactly right; (2) text_guards - constraint enforcement and the rename guard fire through the text path; (3) text_refs - tag time travel and branch merge land; (4) text_restore - RESTORE TO republishes the v1 world as a data-free FORWARD commit (the whole DML/rename/merge era undone in one metadata file, history still auditable); (5) text_loud - an unsupported statement fails naming the grammar",
      oracle = "SELECT CAST(1 AS INTEGER) AS text_dml, " +
        "CAST(1 AS INTEGER) AS text_guards, " +
        "CAST(1 AS INTEGER) AS text_restore, " +
        "CAST(1 AS INTEGER) AS text_refs, " +
        "CAST(1 AS INTEGER) AS text_loud") { (s, dir) =>
      import s.implicits._
      import graft.sources.{CatalogSql, CatalogStore}
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .filter(col("k") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-sqd")
        .toString
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      def x(stmt: String) = CatalogSql.exec(s, root, stmt)
      CatalogStore.commit(s, root, Map("t" -> orders))
      x("CREATE TAG rel AT 1")
      x("CREATE BRANCH wip")
      x("DELETE FROM t WHERE k % 2 = 1")
      x("ALTER TABLE t ADD CONSTRAINT k_even CHECK (k % 2 = 0)")
      x("ALTER TABLE t ADD CONSTRAINT uniq_k UNIQUE (k)")
      x("ALTER TABLE t DROP CONSTRAINT k_even")
      x("ALTER TABLE t RENAME COLUMN cents TO amount")
      x("OPTIMIZE t TARGET 64 MB")
      x("OPTIMIZE t ZORDER BY (k)")
      val expected = orders.filter(col("k") % 2 === 0)
        .withColumnRenamed("cents", "amount")
      val textDml = eq(CatalogStore.readCurrent(s, root, "t"), expected)
      // guards fire THROUGH the text path
      val uniqBit = try {
        CatalogStore.commit(s, root,
          Map("t" -> expected.unionAll(expected.limit(5)))); false
      } catch { case _: CatalogStore.ConstraintViolationException =>
        true }
      val renameGuard = try {
        x("ALTER TABLE t RENAME COLUMN k TO id"); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("uniq_k") }
      val textGuards = uniqBit && renameGuard
      // refs: branch merge through text, tag time travel intact
      CatalogStore.commit(s, root,
        Map("side" -> orders.limit(10)), ref = "wip")
      x("MERGE BRANCH wip")
      val textRefs = CatalogStore.snapshot(s, root).tables
        .contains("side") &&
        CatalogStore.snapshotRef(s, root, "rel").version == 1 &&
        eq(CatalogStore.read(s, root, "t",
          CatalogStore.snapshotRef(s, root, "rel")), orders.toDF()) &&
        // collect-bound: |refs| rows (one per named ref)
        x("SHOW REFS").collect().map(_.getString(0)).toSet ==
          Set("main", "wip", "rel")
      // data-free rollback of the whole DML/rename/merge era, then
      // forward again — history stays auditable both ways
      val preRestore = CatalogStore.snapshot(s, root)
      x("RESTORE TO 1")
      val restored = CatalogStore.snapshot(s, root)
      val textRestore = restored.tables == Map("t" -> 1) &&
        eq(CatalogStore.read(s, root, "t", restored), orders.toDF()) &&
        { x(s"RESTORE TO ${preRestore.version}")
          CatalogStore.snapshot(s, root).tables == preRestore.tables }
      val textLoud = try { x("TRUNCATE TABLE t"); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("supported:") }
      Seq((if (textDml) 1 else 0, if (textGuards) 1 else 0,
        if (textRestore) 1 else 0, if (textRefs) 1 else 0,
        if (textLoud) 1 else 0))
        .toDF("text_dml", "text_guards", "text_restore", "text_refs",
          "text_loud")
    },

    "store_sql_dml_gate" -> QueryDef(
      doc = "the catalog's TEXT DML surface (closing the r11 asymmetry: the most common write verb was Scala-only while the reference's operational posture is SQL text): MERGE INTO t USING <view|(query)> ON (keys) -> upsertTable, INSERT INTO -> appendTable, INSERT OVERWRITE -> commit. Pins: (1) sql_merge_eq_scala - the text MERGE result row-equals the Scala upsertTable over a mirror store (the 1:1 parser contract, both source forms exercised); (2) sql_insert_into - INSERT INTO appends to existing rows and first-publishes a missing table; (3) sql_overwrite - INSERT OVERWRITE replaces the table wholesale; (4) sql_guard_preclaim - a persisted CHECK rejects a violating text INSERT and text MERGE before anything claims (catalog version and rows byte-identical after)",
      oracle = "SELECT CAST(1 AS INTEGER) AS sql_merge_eq_scala, " +
        "CAST(1 AS INTEGER) AS sql_insert_into, " +
        "CAST(1 AS INTEGER) AS sql_overwrite, " +
        "CAST(1 AS INTEGER) AS sql_guard_preclaim") { (s, dir) =>
      import s.implicits._
      import graft.sources.{CatalogSql, CatalogStore}
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .filter(col("k") < 6000) // slice: semantics, not IO
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      val root = java.nio.file.Files.createTempDirectory("graft-sqm")
        .toString
      val mirror = java.nio.file.Files.createTempDirectory("graft-sqm2")
        .toString
      def x(stmt: String) = CatalogSql.exec(s, root, stmt)
      val base = orders.filter(col("k") < 4000).localCheckpoint(true)
      val upd = orders.filter(col("k") >= 2000 && col("k") < 5000)
        .withColumn("cents", col("cents") + 7).localCheckpoint(true)
      base.createOrReplaceTempView("sqldml_base")
      upd.createOrReplaceTempView("sqldml_upd")
      // text path: OVERWRITE publish, then MERGE from a view and from
      // a parenthesized query (both USING source forms); the Scala
      // mirror lands the same three writes on a SEPARATE store — the
      // two transaction chains are independent, so they run
      // concurrently (Par: guide §2.6; each chain stays sequential
      // internally because its transactions build on each other)
      Par.two({
        x("INSERT OVERWRITE t SELECT * FROM sqldml_base")
        x("MERGE INTO t USING sqldml_upd ON (k)")
        x("MERGE INTO t USING (SELECT k, cents + 1 AS cents " +
          "FROM sqldml_upd WHERE k >= 4500) ON (k)")
      }, {
        CatalogStore.commit(s, mirror, Map("t" -> base))
        CatalogStore.upsertTable(s, mirror, "t", upd, Seq("k"))
        CatalogStore.upsertTable(s, mirror, "t",
          upd.filter(col("k") >= 4500)
            .withColumn("cents", col("cents") + 1), Seq("k"))
      })
      val mergeEqScala = eq(CatalogStore.readCurrent(s, root, "t"),
        CatalogStore.readCurrent(s, mirror, "t"))
      // INSERT INTO appends; on a missing table it first-publishes
      val nBefore = CatalogStore.readCurrent(s, root, "t").count()
      x("INSERT INTO t SELECT k + 1000000 AS k, cents " +
        "FROM sqldml_base WHERE k < 200")
      val nAppend = base.filter(col("k") < 200).count()
      x("INSERT INTO fresh SELECT * FROM sqldml_base")
      val insertInto =
        CatalogStore.readCurrent(s, root, "t").count() ==
          nBefore + nAppend &&
        eq(CatalogStore.readCurrent(s, root, "fresh"), base.toDF())
      // INSERT OVERWRITE replaces wholesale
      x("INSERT OVERWRITE fresh SELECT * FROM sqldml_upd")
      val overwrite = eq(CatalogStore.readCurrent(s, root, "fresh"),
        upd.toDF())
      // persisted CHECK bites pre-claim through both text verbs
      x("ALTER TABLE fresh ADD CONSTRAINT cents_pos CHECK (cents >= 0)")
      val vBefore = CatalogStore.snapshot(s, root).version
      val insRejected = try {
        x("INSERT INTO fresh VALUES (1, CAST(-1 AS BIGINT))"); false
      } catch {
        case _: CatalogStore.ConstraintViolationException => true }
      val mrgRejected = try {
        x("MERGE INTO fresh USING (SELECT 2000 AS k, " +
          "CAST(-5 AS BIGINT) AS cents) ON (k)"); false
      } catch {
        case _: CatalogStore.ConstraintViolationException => true }
      val guard = insRejected && mrgRejected &&
        CatalogStore.snapshot(s, root).version == vBefore &&
        eq(CatalogStore.readCurrent(s, root, "fresh"), upd.toDF())
      Seq((if (mergeEqScala) 1 else 0, if (insertInto) 1 else 0,
        if (overwrite) 1 else 0, if (guard) 1 else 0))
        .toDF("sql_merge_eq_scala", "sql_insert_into", "sql_overwrite",
          "sql_guard_preclaim")
    },

    "store_dml_gate" -> QueryDef(
      doc = "the DML tier's guarantees: (1) delete_sql - deleteWhere removes exactly the rows where the predicate is TRUE; FALSE and NULL rows stay (SQL DELETE semantics - a naive filter(!p) silently deletes every NULL row too); (2) upsert_checked - the persisted constraints gate the MERGED result: a violating update batch rejects pre-claim and the store is byte-identical; (3) no_lost_update - the derived-CAS loop: a concurrent commit landing between an upsert's read and its claim triggers RE-derivation against the new version, so the concurrent writer's rows survive into the merged result (the optimistic-concurrency conflict Delta surfaces as ConcurrentModificationException, closed here by replay); (4) history - every pre-DML version still serves its own bytes (DML writes new versions, never rewrites history)",
      oracle = "SELECT CAST(1 AS INTEGER) AS delete_sql, " +
        "CAST(1 AS INTEGER) AS upsert_checked, " +
        "CAST(1 AS INTEGER) AS no_lost_update, " +
        "CAST(1 AS INTEGER) AS history") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      import graft.sources.CatalogStore.{Constraint,
        ConstraintViolationException}
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      val root = java.nio.file.Files.createTempDirectory("graft-dml")
        .toString
      // (1) DELETE semantics over a NULL-bearing column
      val base = Seq((1, Some(5L)), (2, Some(-5L)),
        (3, None: Option[Long])).toDF("k", "v")
      CatalogStore.commit(s, root, Map("t" -> base))
      CatalogStore.deleteWhere(s, root, "t", col("v") < 0)
      val deleteSql = eq(CatalogStore.readCurrent(s, root, "t"),
        Seq((1, Some(5L)), (3, None: Option[Long])).toDF("k", "v"))
      // (2) constraints gate the merged result
      CatalogStore.addConstraints(s, root, Seq(
        Constraint.check("t", "v_pos", "v >= 0")))
      val pre = CatalogStore.snapshot(s, root)
      val upsertChecked = (try {
        CatalogStore.upsertTable(s, root, "t",
          Seq((1, Some(-9L))).toDF("k", "v"), Seq("k")); false
      } catch { case e: ConstraintViolationException =>
        e.constraint == "v_pos"
      }) && CatalogStore.snapshot(s, root) == pre
      // (3) the lost-update race, closed: interfere mid-derivation
      var interfered = false
      CatalogStore.commitDerived(s, root, "t", "main",
        contentionTimeoutMs = 60000L, evolve = false,
        enforce = false) { (bv, _, dst) =>
        if (!interfered) {
          interfered = true
          CatalogStore.commit(s, root,
            Map("t" -> Seq((1, Some(5L)), (9, Some(90L)))
              .toDF("k", "v")))
        }
        val doubled = s.read.parquet(s"$root/t/v=${bv.get}")
          .withColumn("v", col("v") * 2)
        doubled.write.mode("errorifexists").parquet(dst)
        Some(doubled.schema)
      }
      // the concurrent writer's k=9 row survived, doubled — a stale
      // derivation of the pre-interference version would have lost it
      val noLostUpdate = eq(CatalogStore.readCurrent(s, root, "t"),
        Seq((1, Some(10L)), (9, Some(180L))).toDF("k", "v"))
      // (4) history: v1 still serves the original three rows
      val history = eq(CatalogStore.read(s, root, "t",
        CatalogStore.snapshot(s, root, Some(1))), base.toDF())
      Seq((if (deleteSql) 1 else 0, if (upsertChecked) 1 else 0,
        if (noLostUpdate) 1 else 0, if (history) 1 else 0))
        .toDF("delete_sql", "upsert_checked", "no_lost_update",
          "history")
    },

    "store_optimize_gate" -> QueryDef(
      doc = "catalog-integrated OPTIMIZE (Delta OPTIMIZE / Iceberg rewrite_data_files as a TRANSACTION - maintenance that can never tear a reader): (1) compacted - 16 deliberately tiny files (the streaming-append shape that turns every 100 TB scan into a task storm) land as a new version with fewer files via the claim protocol; (2) rows_eq - the optimized version is row-identical to the base, both directions; (3) travel_intact - the PRE-optimize version keeps its exact file count and rows (optimize writes a new version; history is immutable until vacuum); (4) zorder_clusters - the zorder mode plus ride-along indexCols: the persisted file index on the clustered version prunes a narrow key band to <= 2 files while the SAME index columns on the unclustered version keep all 16 (random partitioning makes every file span the full key range - clustering is what turns min/max boxes into real IO pruning)",
      oracle = "SELECT CAST(1 AS INTEGER) AS compacted, " +
        "CAST(1 AS INTEGER) AS rows_eq, " +
        "CAST(1 AS INTEGER) AS travel_intact, " +
        "CAST(1 AS INTEGER) AS zorder_clusters") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-opt")
        .toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      def nFiles(v: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, s"t/v=$v"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      CatalogStore.commit(s, root, Map("t" -> orders.repartition(16)),
        indexCols = Map("t" -> Seq("o_orderkey")))
      val tx = CatalogStore.optimizeTable(s, root, "t", targetMb = 128)
      val compacted = tx.version.contains(2) && nFiles(2) < 16
      val snap2 = CatalogStore.snapshot(s, root)
      // two independent read-only equality legs — overlap them
      // (Par: guide §2.6)
      val (rowsEq, travelIntact) = Par.two(
        eq(CatalogStore.read(s, root, "t", snap2), orders.toDF()),
        nFiles(1) == 16 &&
          eq(CatalogStore.read(s, root, "t",
            CatalogStore.snapshot(s, root, Some(1))), orders.toDF()))
      // (4) clustering turns the file index into real pruning: the
      // same narrow band survives <= 2 clustered files vs all 16
      // random ones
      CatalogStore.optimizeTable(s, root, "t",
        zorderCols = Seq("o_orderkey"), zorderFiles = Some(8),
        indexCols = Seq("o_orderkey"))
      val snap3 = CatalogStore.snapshot(s, root)
      def band(idx: org.apache.spark.sql.DataFrame) = idx
        .filter(col("min_o_orderkey") <= 1100 &&
          col("max_o_orderkey") >= 1000)
        .count()
      val idx1 = CatalogStore.fileIndexOf(s, root,
        CatalogStore.snapshot(s, root, Some(1)), "t").get
      val zorderClusters =
        band(CatalogStore.fileIndexOf(s, root, snap3, "t").get) <= 2 &&
        band(idx1) >= 12 &&
        eq(CatalogStore.read(s, root, "t", snap3), orders.toDF())
      Seq((if (compacted) 1 else 0, if (rowsEq) 1 else 0,
        if (travelIntact) 1 else 0, if (zorderClusters) 1 else 0))
        .toDF("compacted", "rows_eq", "travel_intact",
          "zorder_clusters")
    },

    "stats_metadata_agg_gate" -> QueryDef(
      doc = "metadata-only aggregates from the publish-time stats sidecar (what Delta/Iceberg answer from the manifest and a bare-path lakehouse re-scans for - at 100 TB the dashboard's SELECT count(*), max(event_time) is one small-file read, not an ~800k-file scan): CatalogStore.metaAgg serves COUNT(*)/null-counts/MIN/MAX from the sidecar CatalogStore.analyze wrote into the immutable version dir. Legs: (1) meta_counts - row count and per-column null counts equal the full-scan aggregates; (2) meta_bounds - min/max equal the full-scan values IN THE COLUMN'S TYPE, and the gate proves the lexicographic trap is real and dodged (the string-order max of the key differs from the typed max - a sidecar recording report-form strings would serve a bound that excludes live values); (3) meta_local - the optimized plan is a LocalRelation: zero scans, the answer is constant-folded from metadata; (4) meta_strings - string-column min/max (where lexicographic IS the right order) also match the scan",
      oracle = "SELECT CAST(1 AS INTEGER) AS meta_counts, " +
        "CAST(1 AS INTEGER) AS meta_bounds, " +
        "CAST(1 AS INTEGER) AS meta_local, " +
        "CAST(1 AS INTEGER) AS meta_strings") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val df = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 6000) // slice: semantics, not IO
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("price"),
          when(col("o_orderkey") % 7 === 0, lit(null))
            .otherwise(col("o_orderpriority")).as("clerk"))
      val root = java.nio.file.Files.createTempDirectory("graft-meta")
        .toString
      CatalogStore.commit(s, root, Map("t" -> df))
      val snap = CatalogStore.snapshot(s, root)
      CatalogStore.analyze(s, root, snap)
      val ma = CatalogStore.metaAgg(s, root, snap, "t",
        Seq("k", "price", "clerk"))
      val local = ma.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      // collect-bound: metaAgg is ONE metadata row by construction
      val m = ma.collect()(0)
      val sc = CatalogStore.read(s, root, "t", snap)
        .agg(count(lit(1)).as("n"),
          sum(when(col("clerk").isNull, 1L).otherwise(0L)).as("nc"),
          min("k").as("mink"), max("k").as("maxk"),
          min("price").as("minp"), max("price").as("maxp"),
          min("clerk").as("minc"), max("clerk").as("maxc"),
          max(col("k").cast("string")).as("lexmaxk"))
        // collect-bound: global aggregate — exactly one row
        .collect()(0)
      def same(metaCol: String, scanCol: String) =
        String.valueOf(m.getAs[Any](metaCol)) ==
          String.valueOf(sc.getAs[Any](scanCol))
      val counts = m.getAs[Long]("row_count") == sc.getAs[Long]("n") &&
        m.getAs[Long]("nulls_clerk") == sc.getAs[Long]("nc") &&
        m.getAs[Long]("nulls_k") == 0L
      val bounds = same("min_k", "mink") && same("max_k", "maxk") &&
        same("min_price", "minp") && same("max_price", "maxp") &&
        // non-vacuity: the lexicographic max DIFFERS on this data, so
        // the typed sidecar is load-bearing, not coincidental
        String.valueOf(m.getAs[Any]("max_k")) !=
          sc.getAs[String]("lexmaxk")
      val strings = same("min_clerk", "minc") && same("max_clerk", "maxc")
      Seq((if (counts) 1 else 0, if (bounds) 1 else 0,
        if (local) 1 else 0, if (strings) 1 else 0))
        .toDF("meta_counts", "meta_bounds", "meta_local", "meta_strings")
    },

    "stats_histogram_gate" -> QueryDef(
      doc = "equi-height histograms complete the publish-time CBO feed (min/max + uniformity is off by ~the skew factor on a hot-value column - the estimate that picks the wrong join order at 100 TB): analyze(histCols) computes percentile-boundary bins with per-bin sketched NDV in one boundary pass + one group-by-bin pass, persists them in the same immutable stats sidecar, and ScanStatsRule attaches them as catalog histogram stats. Legs on a 90%-one-value fixture where the tail predicate's truth is ~5% and the uniform interpolation says ~50%: (1) hist_persisted - sidecar round-trips the histogram (reload == analyze, nothing recomputed); (2) hist_crowds - equi-HEIGHT boundaries crowd at the hot value (most bins are zero-width at it), which is the property equi-width lacks; (3) hist_sharpens - under spark.sql.cbo.enabled the optimizer's row estimate with the histogram is >=3x smaller than the same stats without it and lands near the truth; (4) rows_eq - estimates steer planning, never results",
      oracle = "SELECT CAST(1 AS INTEGER) AS hist_persisted, " +
        "CAST(1 AS INTEGER) AS hist_crowds, " +
        "CAST(1 AS INTEGER) AS hist_sharpens, " +
        "CAST(1 AS INTEGER) AS rows_eq") { (s, dir) =>
      import s.implicits._
      import graft.plans.ScanStatsCatalog
      import graft.sources.CatalogStore
      // 90% of rows hold k = 0; the tail is uniform over 1..1000
      val skew = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 12000) // slice: semantics, not IO
        .select(
          when(col("o_orderkey") % 10 =!= 0, lit(0L))
            .otherwise((col("o_orderkey") / 10) % 1000 + 1).as("k"),
          col("o_orderkey"))
      val root = java.nio.file.Files.createTempDirectory("graft-hist2")
        .toString
      CatalogStore.commit(s, root, Map("skewed" -> skew))
      val snap = CatalogStore.snapshot(s, root)
      val ts = CatalogStore.analyze(s, root, snap,
        histCols = Map("skewed" -> Seq("k")), histBins = 32)
      val h = ts("skewed").cols("k").hist
      ScanStatsCatalog.clear()
      val persisted = h.isDefined && h.get.bins.size == 32 &&
        CatalogStore.registerStats(s, root, snap) == ts
      val crowds = h.exists(_.bins.count(b =>
        b.lo == 0.0 && b.hi == 0.0) >= 16)
      val path = CatalogStore.tablePath(root, "skewed", snap)
      val savedCbo = s.conf.getOption("spark.sql.cbo.enabled")
      val (sharpens, rowsEq) = try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        def q() = CatalogStore.read(s, root, "skewed", snap)
          .filter(col("k") >= 500L)
        def est(): BigInt = q().queryExecution.optimizedPlan.stats
          .rowCount.getOrElse(BigInt(-1))
        ScanStatsCatalog.register(path, ts("skewed"))
        val withHist = est()
        val histRows = q().count()
        ScanStatsCatalog.register(path, ts("skewed").copy(
          cols = ts("skewed").cols.map { case (c, cs) =>
            c -> cs.copy(hist = None) }))
        val uniform = est()
        val plainRows = q().count()
        (withHist > 0 && uniform > 0 && withHist * 3 <= uniform &&
          // near the truth: within 4x of the actual tail count
          withHist <= BigInt(histRows * 4) &&
          BigInt(histRows) <= withHist * 4,
          histRows == plainRows)
      } finally {
        ScanStatsCatalog.clear()
        savedCbo.fold(s.conf.unset("spark.sql.cbo.enabled"))(
          s.conf.set("spark.sql.cbo.enabled", _))
      }
      Seq((if (persisted) 1 else 0, if (crowds) 1 else 0,
        if (sharpens) 1 else 0, if (rowsEq) 1 else 0))
        .toDF("hist_persisted", "hist_crowds", "hist_sharpens",
          "rows_eq")
    },

    "store_readwhere_gate" -> QueryDef(
      doc = "catalog-integrated data skipping (the layout tier's file index promoted to the catalog's DEFAULT filtered-read path): indexTable persists a per-file min/max box index INSIDE the immutable version dir (underscore-hidden like _SUCCESS, dropped by vacuum with its version, a second call is a no-op because the bytes cannot change), and readWhere answers any WHERE-shaped predicate through autoPrunedRead - extractable bounds prune files against the persisted index, the FULL predicate re-applies to survivors. Legs: (1) rw_lossless - readWhere == read().filter for a band + unextractable-modulo predicate, both directions; (2) rw_prunes - the band survives at most 2 of the 8 range-partitioned files (the index is doing real IO work, not riding along); (3) rw_invisible - the sidecar never changes what a plain read returns (the underscore-hiding contract the whole design leans on); (4) rw_unindexed_safe - a table without an index degrades to the plain filtered read, row-identical",
      oracle = "SELECT CAST(1 AS INTEGER) AS rw_lossless, " +
        "CAST(1 AS INTEGER) AS rw_prunes, " +
        "CAST(1 AS INTEGER) AS rw_invisible, " +
        "CAST(1 AS INTEGER) AS rw_unindexed_safe") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 12000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-rw")
        .toString
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      CatalogStore.commit(s, root, Map("t" ->
        orders.repartitionByRange(8, col("o_orderkey"))))
      val snap = CatalogStore.snapshot(s, root)
      val nPlain = CatalogStore.read(s, root, "t", snap).count()
      CatalogStore.indexTable(s, root, snap, "t", Seq("o_orderkey"))
      val invisible =
        CatalogStore.read(s, root, "t", snap).count() == nPlain
      val hi = orders.agg(percentile_approx(col("o_orderkey"),
        lit(0.12), lit(1000))).head().getLong(0)
      val pred = col("o_orderkey") <= hi && col("o_custkey") % 2 === 0
      val lossless = eq(
        CatalogStore.readWhere(s, root, "t", snap, pred),
        CatalogStore.read(s, root, "t", snap).filter(pred))
      val prunes = graft.operators.Layout.autoPruneFiles(s,
        CatalogStore.tablePath(root, "t", snap),
        CatalogStore.fileIndexOf(s, root, snap, "t").get, pred)
        .exists(_.size <= 2)
      CatalogStore.commit(s, root, Map("u" -> orders.limit(200)))
      val snap2 = CatalogStore.snapshot(s, root)
      val unindexed = eq(
        CatalogStore.readWhere(s, root, "u", snap2,
          col("o_orderkey") % 3 === 0),
        CatalogStore.read(s, root, "u", snap2)
          .filter(col("o_orderkey") % 3 === 0))
      Seq((if (lossless) 1 else 0, if (prunes) 1 else 0,
        if (invisible) 1 else 0, if (unindexed) 1 else 0))
        .toDF("rw_lossless", "rw_prunes", "rw_invisible",
          "rw_unindexed_safe")
    },

    "store_sql_skipping_gate" -> QueryDef(
      doc = "SQL-transparent data skipping (the readWhere behavior promoted under Spark's own scan planning, the Delta design: a custom FileIndex consults the persisted per-file boxes inside FileSourceStrategy's listing, so plain text SQL - the reports.json surface - prunes files without naming any graft API): registerSkippingView builds a LogicalRelation over GraftSkippingIndex for one immutable snapshot version. Soundness is load-bearing: file-level listing is NOT re-checked downstream (a wrongly dropped file is silent row loss), so the index prunes only on provable box misses and keeps everything else. Legs: (1) sql_lossless - the view's WHERE-band rows equal the unregistered scan's, both directions; (2) sql_prunes - the scan node's own numFiles metric opens <=2 of the 8 range-partitioned files where the plain scan opens all 8; (3) sql_or_safe - an OR predicate (unextractable) opens ALL files and returns identical rows - no false pruning; (4) sql_unregistered_loud - registering a view over an unindexed table fails loudly naming indexTable (a silently-plain view would read as 'skipping works' in a benchmark that never skipped)",
      oracle = "SELECT CAST(1 AS INTEGER) AS sql_lossless, " +
        "CAST(1 AS INTEGER) AS sql_prunes, " +
        "CAST(1 AS INTEGER) AS sql_or_safe, " +
        "CAST(1 AS INTEGER) AS sql_unregistered_loud") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 12000) // slice: semantics, not IO
      val root = java.nio.file.Files.createTempDirectory("graft-sqlsk")
        .toString
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
      def scanFiles(df: org.apache.spark.sql.DataFrame): Long =
        graft.plans.PlanMetrics.scanFiles(df)
      CatalogStore.commit(s, root, Map("t" ->
        orders.repartitionByRange(8, col("o_orderkey"))))
      val snap = CatalogStore.snapshot(s, root)
      val loud = try {
        CatalogStore.registerSkippingView(s, root, "t", snap,
          "t_sqlsk"); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("indexTable")
      }
      CatalogStore.indexTable(s, root, snap, "t", Seq("o_orderkey"))
      CatalogStore.registerSkippingView(s, root, "t", snap, "t_sqlsk")
      val plain = CatalogStore.read(s, root, "t", snap)
      val hi = orders.agg(percentile_approx(col("o_orderkey"),
        lit(0.12), lit(1000))).head().getLong(0)
      val band = s.sql(s"SELECT * FROM t_sqlsk WHERE o_orderkey <= $hi")
      val wantBand = plain.filter(col("o_orderkey") <= hi)
      val lossless = eq(band, wantBand)
      val prunes = scanFiles(
        s.sql(s"SELECT * FROM t_sqlsk WHERE o_orderkey <= $hi")) <= 2L &&
        scanFiles(plain.filter(col("o_orderkey") <= hi)) == 8L
      val orq = s.sql(s"SELECT * FROM t_sqlsk WHERE o_orderkey <= " +
        s"$hi OR o_custkey % 2 = 0")
      val orSafe = eq(orq, plain.filter(col("o_orderkey") <= hi ||
        col("o_custkey") % 2 === 0)) &&
        scanFiles(s.sql(s"SELECT * FROM t_sqlsk WHERE o_orderkey <= " +
          s"$hi OR o_custkey % 2 = 0")) == 8L
      s.catalog.dropTempView("t_sqlsk")
      Seq((if (lossless) 1 else 0, if (prunes) 1 else 0,
        if (orSafe) 1 else 0, if (loud) 1 else 0))
        .toDF("sql_lossless", "sql_prunes", "sql_or_safe",
          "sql_unregistered_loud")
    },

    "store_versioned_gate" -> QueryDef(
      doc = "versioned serving store (time travel + rollback + vacuum on a one-table CatalogStore - the Delta/Iceberg snapshot idea reduced to its load-bearing parts: immutable v=N table dirs named by immutable catalog files + an atomically-renamed one-line pointer, so a commit can never tear a running scan and rollback is a data-free RESTORE commit): (1) two commits - the current read serves the second while catalog v1 still serves the full first for time travel; (2) restore(1) serves v1's content and the next commit's table version lands strictly above every existing version dir, so a live number is NEVER reused; (3) after a second restore(1), vacuum(keep = 1) removes the newer table versions but keeps v=1 - the oldest data, referenced by the current catalog - and serves the full count",
      oracle = "SELECT CAST(1 AS INTEGER) AS ver_travel_ok, " +
        "CAST(1 AS INTEGER) AS ver_rollback_ok, " +
        "CAST(1 AS INTEGER) AS ver_vacuum_ok") { (s, dir) =>
      import s.implicits._
      import graft.sources.CatalogStore
      // deterministic SLICE, not the full table: the gate's contract
      // is pointer/version semantics (counts relative to what was
      // committed), not write throughput — publishing the full
      // projection three times made the timed path pure disk IO with
      // a 9x run-to-run spread (round-8 floor adjudication)
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") < 6000)
      val root = java.nio.file.Files.createTempDirectory("graft-vstore")
        .toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // every physical table version dir, referenced or not
      def tableDirs(): Seq[Int] =
        fs.listStatus(new org.apache.hadoop.fs.Path(root, "t")).toSeq
          .map(_.getPath.getName).filter(_.startsWith("v="))
          .map(_.stripPrefix("v=").toInt).sorted
      def current() = CatalogStore.readCurrent(s, root, "t").count()
      try {
        val full = orders.count()
        CatalogStore.commit(s, root, Map("t" -> orders))
        CatalogStore.commit(s, root,
          Map("t" -> orders.filter(col("o_orderkey") % 2 === 0)))
        val travel = current() < full && CatalogStore.read(s, root, "t",
          CatalogStore.snapshot(s, root, Some(1))).count() == full
        CatalogStore.restore(s, root, 1)
        val restored = current() == full
        val before = tableDirs()
        val v = CatalogStore.commit(s, root,
          Map("t" -> orders.filter(col("o_orderkey") % 3 === 0))).version
        val rollback = restored && v.exists(n => before.forall(_ < n) &&
          CatalogStore.snapshot(s, root).tables == Map("t" -> n) &&
          tableDirs() == before :+ n)
        CatalogStore.restore(s, root, 1)
        val gone = CatalogStore.vacuum(s, root, keep = 1)
        val vacuum =
          gone.tableVersions == Map("t" -> (before.filterNot(_ == 1) ++ v)) &&
            tableDirs() == Seq(1) && current() == full
        Seq((if (travel) 1 else 0, if (rollback) 1 else 0,
          if (vacuum) 1 else 0))
          .toDF("ver_travel_ok", "ver_rollback_ok", "ver_vacuum_ok")
      } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
    },

    "src_schema_drift" -> QueryDef(
      doc = "schema-drift report for evolving ingest (the contract layer in front of merge's allowMissingColumns tolerance: additions/removals are null-fill-tolerated but must be KNOWN, and a retyped column must never slide through - null-filled unions mask it until readers cast, which at 100 TB means a quarter of the table's files disagreeing about a type before anyone notices): an orders tick that drops o_custkey, retypes o_totalprice to DECIMAL(12,2) and adds o_comment, diffed against the stored schema; pure driver-side metadata work, deterministic by construction",
      oracle = """
        SELECT * FROM (VALUES
          ('o_orderkey', 'unchanged', 'BIGINT', 'BIGINT'),
          ('o_custkey', 'removed', 'BIGINT', ''),
          ('o_totalprice', 'retyped', 'DOUBLE', 'DECIMAL(12,2)'),
          ('o_comment', 'added', '', 'STRING'))
          AS t(col_name, status, old_type, new_type)""") { (s, dir) =>
      import graft.sources.SchemaDrift
      val stored = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tick = stored.drop("o_custkey")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
        .withColumn("o_comment", lit("note"))
      SchemaDrift.report(s, stored.schema, tick.schema)
    },

    "src_orc_roundtrip" -> QueryDef(
      doc = "ORC as a first-class store format: orders written through AnalysisStore.writeFull(format=orc) and read back through the same format-honoring read path - the store layer is format-agnostic (parquet/orc/json by parameter), and the round-trip must be row-identical to the source, which is exactly what the oracle states",
      oracle = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders""") { (s, dir) =>
      import graft.sources.AnalysisStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val path = java.nio.file.Files.createTempDirectory("graft-orc")
        .resolve("t").toString
      AnalysisStore.writeFull(orders, path, format = "orc")
      AnalysisStore.read(s, path, format = "orc")
    },

    "ivm_delete_gate" -> QueryDef(
      doc = "the honest half of IVM - deletes: count/sum could take retractions algebraically but min/max are NOT subtractable (a deleted minimum says nothing about the next-smallest), so recomputeKeys re-aggregates DIRTY KEYS ONLY from the post-delete base (anti-join passes untouched view rows through; left_semi pushes the dirty-key filter into the base scan) - cost scales with the dirty footprint, never the table. Gate: maintained == full rebuild both directions after deleting every 11th event, AND non-vacuity - some dirty key's min or max actually moved (the recompute did work retraction algebra could not)",
      oracle = "SELECT CAST(1 AS INTEGER) AS ivm_delete_eq_rebuild, " +
        "CAST(1 AS INTEGER) AS ivm_extremes_moved") { (s, dir) =>
      import s.implicits._
      import graft.operators.Incremental
      import graft.operators.Incremental.AggCol
      val keys = Seq("user_id", "event_type")
      val specs = Seq(AggCol("cnt", "count", ""),
        AggCol("sum_cents", "sum", "vc"), AggCol("min_cents", "min", "vc"),
        AggCol("max_cents", "max", "vc"))
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("vc"))
        .localCheckpoint(true)
      val view = Incremental.aggView(ev, keys, specs).localCheckpoint(true)
      val deletes = ev.filter(col("event_id") % 11 === 0)
      val after = ev.filter(col("event_id") % 11 =!= 0)
      val maintained = Incremental.recomputeKeys(view, after,
        deletes, keys, specs).localCheckpoint(true)
      val rebuilt = Incremental.aggView(after, keys, specs)
      val eq = maintained.exceptAll(rebuilt)
        .unionByName(rebuilt.exceptAll(maintained)).isEmpty
      val moved = maintained
        .join(view.select(col("user_id"), col("event_type"),
          col("min_cents").as("om"), col("max_cents").as("ox")), keys)
        .filter(col("min_cents") =!= col("om") ||
          col("max_cents") =!= col("ox"))
        .count() > 0
      Seq((if (eq) 1 else 0, if (moved) 1 else 0))
        .toDF("ivm_delete_eq_rebuild", "ivm_extremes_moved")
    },

    "ivm_join_view" -> QueryDef(
      doc = "incremental view maintenance for an INNER equi-JOIN view V = orders |><| lineitem (Griffin-Libkin delta rule, insert case: dV = dA |><| (B u dB) UNION A |><| dB - the first term joins the NEW B so the dA |><| dB cross term lands exactly once): the base view is built over early orders (o_orderkey % 5 != 0) and early lines (l_linenumber < 4), then maintained with BOTH a new-orders tick AND a late-lines tick - the splits cut across the join key so all three delta families (new order x old lines, old order x late lines, new order x late lines) are genuinely exercised. Each term joins a tick against a key-PRUNED base scan (tick keys broadcast, other side left_semi-filtered), so the refresh shuffles the tick's key neighborhood, never base x base. The oracle replays the FULL join rebuild, so the driver hash IS the delta-rule == rebuild proof cross-engine",
      oracle = """
        SELECT o.o_orderkey, l.l_linenumber, o.o_custkey,
               l.l_extendedprice
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""") {
      (s, dir) =>
      import graft.operators.Incremental
      val keys = Seq("o_orderkey")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")).localCheckpoint(true)
      val lines = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_extendedprice")).localCheckpoint(true)
      val (aOld, deltaA) = (orders.filter(col("o_orderkey") % 5 =!= 0),
        orders.filter(col("o_orderkey") % 5 === 0))
      val (bOld, deltaB) = (lines.filter(col("l_linenumber") < 4),
        lines.filter(col("l_linenumber") >= 4))
      val view = aOld.join(bOld, keys)
      Incremental.maintainJoinView(view, aOld, deltaA, bOld, deltaB, keys)
        .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("l_extendedprice"))
    },

    "ivm_join_delete_gate" -> QueryDef(
      doc = "delete handling for JOIN views - the recomputeKeys posture (a row-granular delete on either side cannot be anti-joined away: a surviving base row may still pair with others on the same key): dirty-key view rows leave wholesale, then re-join from the post-delete bases restricted to those keys (left_semi prune BOTH sides). Gate: maintained == full post-delete rebuild both directions after deleting every 7th lineitem row, AND non-vacuity - some dirty key still has surviving pairs (the recompute re-created rows a pure anti-join would have lost)",
      oracle = "SELECT CAST(1 AS INTEGER) AS ivm_jd_eq_rebuild, " +
        "CAST(1 AS INTEGER) AS ivm_jd_nonvacuous") { (s, dir) =>
      import s.implicits._
      import graft.operators.Incremental
      val keys = Seq("o_orderkey")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")).localCheckpoint(true)
      val lines = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          monotonically_increasing_id().as("__rid"))
        .localCheckpoint(true)
      val view = orders.join(lines, keys).localCheckpoint(true)
      val doomed = lines.filter(col("__rid") % 7 === 0)
      val bNew = lines.filter(col("__rid") % 7 =!= 0)
      val maintained = Incremental.recomputeJoinKeys(view, orders, bNew,
        doomed, keys).localCheckpoint(true)
      val rebuilt = orders.join(bNew, keys)
      // two independent check actions over the checkpointed frames —
      // overlap them (Par: guide §2.6)
      val (eq, survivors) = Par.two(
        maintained.exceptAll(rebuilt)
          .unionByName(rebuilt.exceptAll(maintained)).isEmpty,
        // non-vacuity: a dirty key that kept OTHER pairs after the
        // delete — the case where anti-join-only maintenance is wrong
        maintained
          .join(broadcast(doomed.select(keys.map(col): _*).distinct()),
            keys, "left_semi").count() > 0)
      Seq((if (eq) 1 else 0, if (survivors) 1 else 0))
        .toDF("ivm_jd_eq_rebuild", "ivm_jd_nonvacuous")
    },

    "ivm_rewrite" -> QueryDef(
      doc = "materialized-view ROUTING (the optimizer half of IVM, via SparkSessionExtensions + a Catalyst Rule - the Spark-native reading of 'reports read mamba_fact_*, never re-scan obs', generalized to lakehouse MV routing): a cents-integerized curated events table and its (user_id, event_type) aggView both persist to parquet, the view registers in AggViewCatalog, and then a ROLLUP-grain report (per user only) aggregates THE BASE TABLE - the injected AggViewRewrite rule reroutes the plan to re-aggregate the |keys|-row view instead (counts/sums add, min/max take the extreme; exact for the distributive set). The oracle replays the aggregation over raw events, so the driver hash proves the routed answer equals the ground truth; that the scan actually MOVED is ivm_rewrite_gate's contract",
      oracle = """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(min(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS min_cents,
               CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS max_cents
        FROM events GROUP BY 1""") { (s, dir) =>
      import graft.operators.Incremental
      import graft.operators.Incremental.AggCol
      import graft.plans.{AggViewCatalog, MaterializedAggView}
      val root = java.nio.file.Files.createTempDirectory("graft-mv-a")
      val basePath = root.resolve("curated_events_a").toString
      val viewPath = root.resolve("curated_view_a").toString
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("vc"))
        .write.parquet(basePath)
      val keys = Seq("user_id", "event_type")
      val specs = Seq(AggCol("cnt", "count", ""),
        AggCol("sum_cents", "sum", "vc"), AggCol("min_cents", "min", "vc"),
        AggCol("max_cents", "max", "vc"))
      Incremental.aggView(s.read.parquet(basePath), keys, specs)
        .write.parquet(viewPath)
      AggViewCatalog.register(MaterializedAggView(basePath,
        viewPath, keys, Map(("count", "") -> "cnt",
          ("sum", "vc") -> "sum_cents", ("min", "vc") -> "min_cents",
          ("max", "vc") -> "max_cents")))
      // the report: aggregate the BASE — the rule reroutes it (lazily,
      // at the driver's write action, so the registration must outlive
      // this lambda; entries key by qualified base path and are re-registered
      // idempotently on replay)
      s.read.parquet(basePath).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"), sum("vc").as("sum_cents"),
          min("vc").as("min_cents"), max("vc").as("max_cents"))
    },

    "ivm_rewrite_distinct" -> QueryDef(
      doc = "MV routing for the reference's own report #3 shape (README.md:321 runs COUNT(DISTINCT ei.infant_client_id) alongside plain aggregates): two routes beyond the distributive set - (a) COUNT(DISTINCT x) with x IN the view grain re-aggregates the finer view exactly (the view keeps one row per surviving grain combination, so distinctness is preserved; a |view|-row scan replaces the full base shuffle), and (b) AVG(x) routes ALGEBRAICALLY as Sum(view sum)/Sum(view non-null count) - the denominator must be the registered count-of-x measure, never the row count, or null inputs would dilute the average. The oracle replays both over raw events; the scan-actually-moved legs live in ivm_rewrite_gate",
      oracle = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(DISTINCT user_id) AS BIGINT) AS users,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                 / CAST(count(CAST(round(value * 100, 0) AS BIGINT))
                        AS DOUBLE) AS avg_cents
        FROM events GROUP BY 1""") { (s, dir) =>
      import graft.operators.Incremental
      import graft.operators.Incremental.AggCol
      import graft.plans.{AggViewCatalog, MaterializedAggView}
      val root = java.nio.file.Files.createTempDirectory("graft-mv-d")
      val basePath = root.resolve("curated_events_d").toString
      val viewPath = root.resolve("curated_view_d").toString
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("vc"))
        .write.parquet(basePath)
      val keys = Seq("user_id", "event_type")
      val specs = Seq(AggCol("cnt", "count", ""),
        AggCol("cntv", "count", "vc"), AggCol("sum_cents", "sum", "vc"))
      Incremental.aggView(s.read.parquet(basePath), keys, specs)
        .write.parquet(viewPath)
      AggViewCatalog.register(MaterializedAggView(basePath,
        viewPath, keys, Map(("count", "") -> "cnt",
          ("count", "vc") -> "cntv", ("sum", "vc") -> "sum_cents")))
      s.read.parquet(basePath).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct("user_id").as("users"),
          avg("vc").as("avg_cents"))
    },

    "ivm_rewrite_gate" -> QueryDef(
      doc = "the non-vacuity half of ivm_rewrite (+_distinct): (1) rewrite_fired - the optimized plan's scan is the VIEW parquet and the base table is gone from the plan (otherwise the hash-green twin would be trivially true of a non-firing rule); (2) rewrite_eq - the routed result equals the direct aggregation computed with the catalog cleared, both directions; (3) filter_guard - a NON-key filter declines (the view has no row detail to filter); (4) distinct_fired / (5) distinct_eq - the COUNT(DISTINCT in-grain)+AVG+approx_count_distinct report ALSO routes to the view and equals the direct answer (the ivm_rewrite_distinct shapes, scan-moved-proven; the HLL column is duplicate-insensitive so the routed sketch is bit-identical - same-engine equality, exactly what exceptAll checks)",
      oracle = "SELECT CAST(1 AS INTEGER) AS rewrite_fired, " +
        "CAST(1 AS INTEGER) AS rewrite_eq, " +
        "CAST(1 AS INTEGER) AS filter_guard, " +
        "CAST(1 AS INTEGER) AS distinct_fired, " +
        "CAST(1 AS INTEGER) AS distinct_eq") { (s, dir) =>
      import s.implicits._
      import graft.operators.Incremental
      import graft.operators.Incremental.AggCol
      import graft.plans.{AggViewCatalog, MaterializedAggView}
      def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
      val root = java.nio.file.Files.createTempDirectory("graft-mv-g")
      val basePath = root.resolve("curated_events_g").toString
      val viewPath = root.resolve("curated_view_g").toString
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("vc"))
        .write.parquet(basePath)
      val keys = Seq("user_id", "event_type")
      val specs = Seq(AggCol("cnt", "count", ""),
        AggCol("cntv", "count", "vc"), AggCol("sum_cents", "sum", "vc"))
      Incremental.aggView(s.read.parquet(basePath), keys, specs)
        .write.parquet(viewPath)
      AggViewCatalog.register(MaterializedAggView(basePath,
        viewPath, keys,
        Map(("count", "") -> "cnt", ("count", "vc") -> "cntv",
          ("sum", "vc") -> "sum_cents")))
      def report() = s.read.parquet(basePath).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"), sum("vc").as("sum_cents"))
      def dreport() = s.read.parquet(basePath).groupBy("event_type")
        .agg(countDistinct("user_id").as("users"),
          avg("vc").as("avg_cents"),
          // HLL is duplicate-insensitive → the routed sketch over the
          // view's user_id column is bit-identical to the base's
          approx_count_distinct("user_id").as("approx_users"))
      val routed = report()
      val routedScans = scansOf(routed)
      val fired = routedScans.exists(_.contains("curated_view_g")) &&
        !routedScans.exists(_.contains("curated_events_g"))
      val routedRows = routed.localCheckpoint(true)
      val droutedScans = scansOf(dreport())
      val dfired = droutedScans.exists(_.contains("curated_view_g")) &&
        !droutedScans.exists(_.contains("curated_events_g"))
      val droutedRows = dreport().localCheckpoint(true)
      val guarded = scansOf(s.read.parquet(basePath)
        .filter(col("vc") > 100).groupBy("user_id")
        .agg(count(lit(1)).as("cnt")))
        .exists(_.contains("curated_events_g"))
      AggViewCatalog.clear()
      val direct = report()
      val eq = routedRows.exceptAll(direct)
        .unionByName(direct.exceptAll(routedRows)).isEmpty
      val ddirect = dreport()
      val deq = droutedRows.exceptAll(ddirect)
        .unionByName(ddirect.exceptAll(droutedRows)).isEmpty
      Seq((if (fired) 1 else 0, if (eq) 1 else 0, if (guarded) 1 else 0,
        if (dfired) 1 else 0, if (deq) 1 else 0))
        .toDF("rewrite_fired", "rewrite_eq", "filter_guard",
          "distinct_fired", "distinct_eq")
    },

    "ivm_lattice_gate" -> QueryDef(
      doc = "rollup-lattice view selection (the BigQuery/Databricks MV-routing refinement of ivm_rewrite): TWO materialized grains of the same curated events base coexist in the catalog - (user_id, event_type) and the 8x-smaller (user_id) rollup - and the rule must route each report to the COARSEST adequate grain: (1) coarse_wins - a per-user report scans the (user_id) view (fewest groups = least state re-aggregated), base and fine view absent from the plan; (2) fine_serves - a per-(user, type) report falls through to the fine view (the coarse grain cannot serve it); (3) both routed answers equal the direct aggregations with the catalog cleared",
      oracle = "SELECT CAST(1 AS INTEGER) AS coarse_wins, " +
        "CAST(1 AS INTEGER) AS fine_serves, " +
        "CAST(1 AS INTEGER) AS lattice_eq") { (s, dir) =>
      import s.implicits._
      import graft.operators.Incremental
      import graft.operators.Incremental.AggCol
      import graft.plans.{AggViewCatalog, MaterializedAggView}
      def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
      val root = java.nio.file.Files.createTempDirectory("graft-mv-l")
      val basePath = root.resolve("curated_events_l").toString
      val finePath = root.resolve("fine_view_l").toString
      val coarsePath = root.resolve("coarse_view_l").toString
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("vc"))
        .write.parquet(basePath)
      val specs = Seq(AggCol("cnt", "count", ""),
        AggCol("sum_cents", "sum", "vc"))
      val measures = Map[(String, String), String](
        ("count", "") -> "cnt", ("sum", "vc") -> "sum_cents")
      Incremental.aggView(s.read.parquet(basePath),
        Seq("user_id", "event_type"), specs).write.parquet(finePath)
      Incremental.aggView(s.read.parquet(basePath),
        Seq("user_id"), specs).write.parquet(coarsePath)
      AggViewCatalog.register(MaterializedAggView(basePath,
        finePath, Seq("user_id", "event_type"), measures))
      AggViewCatalog.register(MaterializedAggView(basePath,
        coarsePath, Seq("user_id"), measures))
      def perUser() = s.read.parquet(basePath).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"), sum("vc").as("sum_cents"))
      def perUserType() = s.read.parquet(basePath)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"), sum("vc").as("sum_cents"))
      val (u, ut) = (perUser(), perUserType())
      val coarseWins = scansOf(u).exists(_.contains("coarse_view_l")) &&
        !scansOf(u).exists(p => p.contains("curated_events_l") ||
          p.contains("fine_view_l"))
      val fineServes = scansOf(ut).exists(_.contains("fine_view_l")) &&
        !scansOf(ut).exists(p => p.contains("curated_events_l") ||
          p.contains("coarse_view_l"))
      val (uRows, utRows) = (u.localCheckpoint(true), ut.localCheckpoint(true))
      AggViewCatalog.clear()
      val eq = uRows.exceptAll(perUser())
        .unionByName(perUser().exceptAll(uRows)).isEmpty &&
        utRows.exceptAll(perUserType())
          .unionByName(perUserType().exceptAll(utRows)).isEmpty
      Seq((if (coarseWins) 1 else 0, if (fineServes) 1 else 0,
        if (eq) 1 else 0))
        .toDF("coarse_wins", "fine_serves", "lattice_eq")
    },

    "store_bucketed_gate" -> QueryDef(
      doc = "bucketed co-located join (AnalysisStore.writeBucketed made driver-visible): orders and lineitem bucket-sorted by the join key into catalog tables - the write pays ONE shuffle so every later equi-join/aggregation ON THE BUCKET KEY between co-bucketed tables plans with NO shuffle exchange at all (the 100 TB answer to 'this join runs every tick': the store owns the shuffle, not each query). The join is merge-hinted so fixture-sized stats can't flip a broadcast and mask the co-location claim. Gate: (1) no_shuffle - the bucketed join + per-key aggregate's physical plan contains ZERO shuffle exchanges, while (2) plain_shuffles - the IDENTICAL query over plain parquet plans >= 2 (both join sides repartition: the cost the bucketed store amortized); (3) bucketed_eq - both produce the same rows, so co-location changed the plan and nothing else",
      oracle = "SELECT CAST(1 AS INTEGER) AS no_shuffle, " +
        "CAST(1 AS INTEGER) AS plain_shuffles, " +
        "CAST(1 AS INTEGER) AS bucketed_eq") { (s, dir) =>
      import s.implicits._
      import graft.sources.AnalysisStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey")
      // deterministic 1-in-3 slice (the kmv_error_gate diet): the
      // co-location claims are corpus-size-free — zero-exchange plan,
      // plan-vs-plain shuffle count, and row equality hold at any
      // size, and the un-dieted gate spent most of its wall encoding
      // the full 600k-row bucketed write fixture
      val lines = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      s.sql("DROP TABLE IF EXISTS graft_bkt_lines")
      AnalysisStore.writeBucketed(orders, "graft_bkt_orders",
        Seq("o_orderkey"), nBuckets = 8)
      AnalysisStore.writeBucketed(lines, "graft_bkt_lines",
        Seq("o_orderkey"), nBuckets = 8)
      // per-order-key aggregate AFTER the join: key-grain work stays
      // inside the bucket partitioning end-to-end
      def joined(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.hint("merge").join(b, Seq("o_orderkey"))
          .groupBy("o_orderkey")
          // integerized quantity (the IVM rule): the bucketed and the
          // plain plan accumulate per-key sums in DIFFERENT row
          // orders, and a double sum is order-sensitive in the last
          // ulp — the eq leg must compare deterministic values
          .agg(max("o_custkey").as("cust"),
            sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty"))
      def shuffles(df: org.apache.spark.sql.DataFrame): Int =
        ("Exchange (hashpartitioning|rangepartitioning|SinglePartition" +
          "|RoundRobinPartitioning)").r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      val bucketed = joined(s.table("graft_bkt_orders"),
        s.table("graft_bkt_lines"))
      val plain = joined(orders, lines)
      val noShuffle = shuffles(bucketed) == 0
      val plainShuffles = shuffles(plain) >= 2
      // each side materializes EXACTLY ONCE before the compare: the
      // except-union plan otherwise inlines the zero-exchange bucketed
      // scan into BOTH branches, and a long-JVM full sweep twice
      // produced an internally-inconsistent result (b−p = ∅ while
      // p−b = ALL rows at equal counts — i.e. one branch's bucketed
      // scan transiently evaluated empty); comparing two checkpoints
      // closes the double-evaluation seam, and the count guard turns
      // any future empty-scan recurrence into a loud named failure
      // instead of a silent flag flip
      // the two materializations are separate plans over separate
      // relations — overlap them (Par: guide §2.6); the evaluate-once
      // seam contract above concerns re-evaluating ONE bucketed scan
      // inside a single except-union plan, which this preserves
      val (b, p) = Par.two(
        bucketed.localCheckpoint(true), plain.localCheckpoint(true))
      require(b.count() > 0 && p.count() > 0,
        s"bucketed-gate: a side materialized empty (b=${b.count()}, " +
          s"p=${p.count()}) — bucketed table resolution failed")
      val diffs = b.exceptAll(p)
        .withColumn("__side", lit("bucketed-only"))
        .unionByName(p.exceptAll(b).withColumn("__side", lit("plain-only")))
        .localCheckpoint(true)
      val eq = diffs.isEmpty
      if (!eq) {
        System.err.println(s"[bucketed-gate] MISMATCH: b=${b.count()} " +
          s"p=${p.count()} diff=${diffs.count()}")
        // collect-bound: 20-row diagnostic sample, mismatch path only
        diffs.limit(20).collect()
          .foreach(r => System.err.println(s"[bucketed-gate] $r"))
      }
      Seq((if (noShuffle) 1 else 0, if (plainShuffles) 1 else 0,
        if (eq) 1 else 0))
        .toDF("no_shuffle", "plain_shuffles", "bucketed_eq")
    },

    "store_bucketed_append_gate" -> QueryDef(
      doc = "bucketed APPEND (AnalysisStore.appendBucketed): a daily delta lands in per-bucket files at |delta| cost - the table's earlier files are never touched - and the zero-shuffle bucket-key join SURVIVES the append. Gate: (1) rows_eq - appended table == base UNION delta; (2) still_no_shuffle - the merge-hinted join + per-key aggregate against a co-bucketed table still plans ZERO exchanges after the append; (3) bucket_honest - EVERY row (old and new) sits in the file whose name-embedded bucket id equals pmod(murmur3(key), n) - the physical invariant the no-shuffle plan silently RELIES on (scan-side bucket pruning and co-located joins are wrong the moment one row strays); (4) spec_guarded - an append claiming a DIFFERENT bucket count is rejected loudly (Spark itself would accept it and scatter rows outside their claimed bucket)",
      oracle = "SELECT CAST(1 AS INTEGER) AS rows_eq, " +
        "CAST(1 AS INTEGER) AS still_no_shuffle, " +
        "CAST(1 AS INTEGER) AS bucket_honest, " +
        "CAST(1 AS INTEGER) AS spec_guarded") { (s, dir) =>
      import s.implicits._
      import graft.sources.AnalysisStore
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey")
      // deterministic 1-in-3 slice of the join fixture (same diet as
      // store_bucketed_gate): the append/bucket-honesty/no-shuffle
      // claims are size-free
      val lines = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      s.sql("DROP TABLE IF EXISTS graft_bkta_orders")
      s.sql("DROP TABLE IF EXISTS graft_bkta_lines")
      AnalysisStore.writeBucketed(
        orders.filter(col("o_orderkey") % 3 =!= 0),
        "graft_bkta_orders", Seq("o_orderkey"), nBuckets = 8)
      AnalysisStore.writeBucketed(lines, "graft_bkta_lines",
        Seq("o_orderkey"), nBuckets = 8)
      AnalysisStore.appendBucketed(
        orders.filter(col("o_orderkey") % 3 === 0),
        "graft_bkta_orders", Seq("o_orderkey"), nBuckets = 8)
      // checkpoint the managed-table read before the two-sided compare
      // (same double-evaluation seam as store_bucketed_gate's eq leg)
      val tbl = s.table("graft_bkta_orders")
      val tblC = tbl.localCheckpoint(true)
      require(tblC.count() > 0,
        "bucketed-append-gate: table materialized empty")
      val rowsEq = tblC.exceptAll(orders)
        .unionByName(orders.exceptAll(tblC)).isEmpty
      val joined = tbl.hint("merge")
        .join(s.table("graft_bkta_lines"), Seq("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(max("o_custkey").as("cust"), sum("l_quantity").as("qty"))
      val noShuffle =
        ("Exchange (hashpartitioning|rangepartitioning|SinglePartition" +
          "|RoundRobinPartitioning)").r
          .findAllIn(joined.queryExecution.executedPlan.toString)
          .isEmpty
      // physical honesty: file-name bucket id == pmod(murmur3(key), 8)
      // for every row, old files and appended alike
      val strays = tbl
        .withColumn("fileb", regexp_extract(
          col("_metadata.file_path"), "_(\\d{5})\\.c", 1).cast("int"))
        .filter(col("fileb") =!= pmod(hash(col("o_orderkey")), lit(8)))
        .count()
      val guarded = try {
        AnalysisStore.appendBucketed(orders.limit(1),
          "graft_bkta_orders", Seq("o_orderkey"), nBuckets = 16)
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("bucket spec") }
      Seq((if (rowsEq) 1 else 0, if (noShuffle) 1 else 0,
        if (strays == 0) 1 else 0, if (guarded) 1 else 0))
        .toDF("rows_eq", "still_no_shuffle", "bucket_honest",
          "spec_guarded")
    },

    "store_upsert_ticks" -> QueryDef(
      doc = "streaming MERGE INTO the transactional catalog (the Kafka-CDC-to-lakehouse flow: per-key state upserts arriving as micro-batches, exactly-once): the event log replays as three ts-ordered ticks through EtlStreaming.upsertTickBatch - each tick dedupes to one row per user (latest by ts, event_id) and MERGEs into the user_state table with the tick_meta replay guard riding in the SAME atomic commit (a replayed batch id no-ops; guard and data cannot diverge by construction - EtlStreamingSpec drives the MemoryStream twin and the replay). Because ticks partition by time, per-key last-tick-wins composes to the global latest state, which is exactly what the oracle's window over the raw events computes - the driver hash proves the folded streaming upserts equal the one-shot batch answer",
      oracle = """
        WITH e AS (
          SELECT user_id, event_type, ts, event_id,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_type AS last_type,
               CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
        FROM e WHERE rn = 1""") { (s, dir) =>
      import graft.sources.CatalogStore
      import graft.streaming.EtlStreaming
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          col("ts"), col("event_id"))
      // three ts-ordered ticks at the approx tertiles (deterministic
      // for a fixed fixture)
      // collect-bound: one row carrying 2 boundaries
      val b = ev.agg(percentile_approx(unix_micros(col("ts").cast("timestamp")),
        typedLit(Seq(1.0 / 3, 2.0 / 3)), lit(10000)).as("b"))
        .collect()(0).getSeq[Long](0)
      val root = java.nio.file.Files.createTempDirectory("graft-upt")
        .toString
      val latestPerKey: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = { batch =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("event_type").as("last_type"),
            unix_micros(col("ts").cast("timestamp")).as("last_ts_us"))
      }
      def tick(cond: org.apache.spark.sql.Column, id: Long): Unit =
        EtlStreaming.upsertTickBatch(s, root, ev.filter(cond), id,
          "user_state", Seq("user_id"), latestPerKey)
      val us = unix_micros(col("ts").cast("timestamp"))
      tick(us < b(0), 0L)
      tick(us >= b(0) && us < b(1), 1L)
      tick(us >= b(1), 2L)
      CatalogStore.readCurrent(s, root, "user_state")
        .localCheckpoint(true)
    },

    "store_catalog_ticks" -> QueryDef(
      doc = "transactional tick publishing (the CatalogStore treatment for a scheduled ETL: each tick of the 30-day event log commits BOTH derived tables - per-user stats and per-type stats - in ONE atomic transaction, five ticks, ten table versions, five catalog versions; a report reader can never see tick-t users next to tick-(t-1) types). The query answers from the STORE alone: current per-type stats UNION a catalog-TIME-TRAVELED read of per-user stats AS OF the second tick - the oracle replays both aggregates with the tick cutoffs inlined, so the driver hash proves tick-folded transactional snapshots equal the semantic ground truth at BOTH points in history. Cents-integerized sums (the IVM rule) keep the fold bit-exact",
      oracle = """
        WITH ev AS (
          SELECT user_id, event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS cents,
                 CAST(floor(datediff('day', DATE '2024-01-01',
                   CAST(ts AS DATE)) / 7) AS INTEGER) AS tick
          FROM events)
        SELECT 'asof_t1' AS src, CAST(user_id AS VARCHAR) AS k,
               count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        FROM ev WHERE tick <= 1 GROUP BY user_id
        UNION ALL
        SELECT 'current' AS src, event_type AS k,
               count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        FROM ev GROUP BY event_type""") { (s, dir) =>
      import graft.sources.CatalogStore
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          floor(datediff(to_date(col("ts")),
            lit("2024-01-01").cast("date")) / 7).cast("int").as("tick"))
        .localCheckpoint(true)
      val root = java.nio.file.Files.createTempDirectory("graft-catt")
        .toString
      (0 to 4).foreach { t =>
        val upTo = ev.filter(col("tick") <= t)
        CatalogStore.commit(s, root, Map(
          "user_stats" -> upTo.groupBy(col("user_id").cast("string").as("k"))
            .agg(count(lit(1)).as("n"), sum("cents").as("cents")),
          "type_stats" -> upTo.groupBy(col("event_type").as("k"))
            .agg(count(lit(1)).as("n"), sum("cents").as("cents"))))
      }
      val asOf = CatalogStore.snapshot(s, root, Some(2)) // after tick 1
      val cur = CatalogStore.snapshot(s, root)
      CatalogStore.read(s, root, "user_stats", asOf)
        .select(lit("asof_t1").as("src"), col("k"), col("n"), col("cents"))
        .unionByName(CatalogStore.read(s, root, "type_stats", cur)
          .select(lit("current").as("src"), col("k"), col("n"),
            col("cents")))
    },

    "cdc_apply" -> QueryDef(
      doc = "CDC apply (the missing step between fromCdcJson's decode and the store - the log-compaction contract every Debezium->table sink implements): a keyed profile table built from the early event log (latest row per k = event_id % 1500 below id 6000) absorbs the late log as a change feed (op = 'd' when event_type='error', else 'u'; seq = event_id). Per key only the HIGHEST-seq change speaks (one max_by(struct) aggregation - map-side partials, no rank window); a winning delete removes the key HARD (no tombstone - what merge's replace-only semantics cannot express); untouched table rows pass through a broadcast anti-join, so a tick shuffles |touched keys|, never the table. Because event ids strictly increase, the final state is 'globally latest row per key, gone if that row is a late error-typed change' - which is exactly what the oracle's one window replay computes; the stale-guard and tick-split algebra are cdc_apply_gate's contract",
      oracle = """
        WITH base AS (
          SELECT event_id % 1500 AS k, event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS cents,
                 event_id AS seq
          FROM events),
        w AS (
          SELECT k, event_type, cents, seq,
                 row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
          FROM base)
        SELECT k, event_type, cents, seq FROM w
        WHERE rn = 1 AND (seq < 6000 OR event_type <> 'error')""") {
      (s, dir) =>
      import graft.operators.Incremental
      val base = Tables.load(s, dir, "events")
        .select((col("event_id") % 1500).as("k"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_id").as("seq"))
      val existing = base.filter(col("seq") < 6000).groupBy("k")
        .agg(max_by(struct("event_type", "cents", "seq"), col("seq"))
          .as("__w"))
        .select(col("k"), col("__w.event_type").as("event_type"),
          col("__w.cents").as("cents"), col("__w.seq").as("seq"))
      val changes = base.filter(col("seq") >= 6000)
        .withColumn("op",
          when(col("event_type") === "error", "d").otherwise("u"))
      Incremental.applyChanges(existing, changes, Seq("k"))
    },

    "cdc_apply_gate" -> QueryDef(
      doc = "the CDC-apply algebra the hash query cannot see: (1) tick_fold - the late log split into three seq-range ticks folds to EXACTLY the one-shot apply (out-of-order histories straddle tick boundaries, so the per-tick max_by + stored-seq stale guard genuinely compose); (2) replay_noop - REdelivering the LAST tick leaves the table bit-identical (the at-least-once foreachBatch crash-replay case: every redelivered change loses or ties-identical against the stored seq); (3) delete_nonvacuous - keys present in the base table are gone from the final state (hard deletes actually fired); (4) revive_nonvacuous - some deleted-then-reinserted key survives (seq order, not op order, decides); (5) stale_cross_delete - replaying the FIRST tick after the third RESURRECTS some key deleted in between (hard deletes keep no tombstone, so out-of-order tick redelivery is the documented hazard - this field proves the scaladoc's warning is real, not theoretical)",
      oracle = "SELECT CAST(1 AS INTEGER) AS tick_fold, " +
        "CAST(1 AS INTEGER) AS replay_noop, " +
        "CAST(1 AS INTEGER) AS delete_nonvacuous, " +
        "CAST(1 AS INTEGER) AS revive_nonvacuous, " +
        "CAST(1 AS INTEGER) AS stale_cross_delete") { (s, dir) =>
      import s.implicits._
      import graft.operators.Incremental
      val base = Tables.load(s, dir, "events")
        .select((col("event_id") % 400).as("k"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_id").as("seq")).localCheckpoint(true)
      val existing = base.filter(col("seq") < 4000).groupBy("k")
        .agg(max_by(struct("event_type", "cents", "seq"), col("seq"))
          .as("__w"))
        .select(col("k"), col("__w.event_type").as("event_type"),
          col("__w.cents").as("cents"), col("__w.seq").as("seq"))
        .localCheckpoint(true)
      val changes = base.filter(col("seq") >= 4000)
        .withColumn("op",
          when(col("event_type") === "error", "d").otherwise("u"))
        .localCheckpoint(true)
      val t1 = changes.filter(col("seq") < 6000)
      val t2 = changes.filter(col("seq") >= 6000 && col("seq") < 8000)
      val t3 = changes.filter(col("seq") >= 8000)
      // the one-shot apply and the three-tick fold are independent
      // derivations of the same inputs — overlap them (Par: guide
      // §2.6), then run the five check actions concurrently over the
      // checkpointed results (each was a sequential one-job action)
      val (oneShot, f3) = Par.two(
        Incremental.applyChanges(existing, changes, Seq("k"))
          .localCheckpoint(true),
        {
          val f1 = Incremental.applyChanges(existing, t1, Seq("k"))
          val f2 = Incremental.applyChanges(f1, t2, Seq("k"))
          Incremental.applyChanges(f2, t3, Seq("k"))
            .localCheckpoint(true)
        })
      val (tickFold, replayNoop, deleted, revived, staleCross) =
        Par.five(
          f3.exceptAll(oneShot)
            .unionByName(oneShot.exceptAll(f3)).isEmpty,
          {
            val replayed = Incremental.applyChanges(f3, t3, Seq("k"))
            replayed.exceptAll(f3)
              .unionByName(f3.exceptAll(replayed)).isEmpty
          },
          existing.join(oneShot, Seq("k"), "left_anti").count() > 0,
          // a key whose late history is delete-then-upsert: alive at
          // the end with the post-delete image
          changes.filter(col("op") === "d")
            .select("k").distinct()
            .join(oneShot.filter(col("seq") >= 4000), Seq("k"),
              "left_semi")
            .count() > 0,
          {
            // the documented hazard: a key upserted in t1, deleted in
            // t2/t3, gone from f3 — replaying t1 OUT OF ORDER
            // resurrects it (no tombstone survives a hard delete to
            // defend the key)
            val outOfOrder = Incremental.applyChanges(f3, t1, Seq("k"))
            outOfOrder.join(f3, Seq("k"), "left_anti").count() > 0
          })
      Seq((if (tickFold) 1 else 0, if (replayNoop) 1 else 0,
        if (deleted) 1 else 0, if (revived) 1 else 0,
        if (staleCross) 1 else 0))
        .toDF("tick_fold", "replay_noop", "delete_nonvacuous",
          "revive_nonvacuous", "stale_cross_delete")
    },

    "bitext_margin" -> QueryDef(
      doc = "margin-based bitext mining (Artetxe & Schwenk ACL'19, the CCMatrix/LASER recipe): corpora X (even vec_id) and Y (odd) aligned by ratio margin = cos / (mean of each side's top-4 cross-corpus neighborhood, averaged) - cancels hubness, which is why raw-cosine thresholds fail at web scale; INTERSECTION strategy keeps mutual-best pairs with margin >= 1.0. EXACT BASELINE (brute bipartite kNN both directions, weak-by-design quadratic) replayed fully in SQL: cosines at 4dp, neighborhood averages kept as EXACT rationals (order-independent integer sums / k*1e4 - re-rounding them lands on decimal half-boundaries where engines' round() semantics split), margin at 4dp, denominator clamped at 1e-6 - every step one identical IEEE expression shape in both engines; bitext_ivf_gate pins the scale path",
      oracle = s"""
        WITH e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        fk AS MATERIALIZED (
          SELECT xid, yid, cos FROM (
            SELECT b.vec_id AS xid, a.vec_id AS yid, $duckCosine AS cos,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY $duckCosine DESC, a.vec_id) AS rk
            FROM e a CROSS JOIN e b
            WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0) WHERE rk <= 4),
        bk AS MATERIALIZED (
          SELECT xid, yid, cos FROM (
            SELECT a.vec_id AS xid, b.vec_id AS yid, $duckCosine AS cos,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY $duckCosine DESC, a.vec_id) AS rk
            FROM e a CROSS JOIN e b
            WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1) WHERE rk <= 4),
        ax AS (SELECT xid,
                 CAST(sum(CAST(round(cos * 10000, 0) AS BIGINT))
                   AS DOUBLE) / (count(*) * 10000.0) AS ax
               FROM fk GROUP BY xid),
        ay AS (SELECT yid,
                 CAST(sum(CAST(round(cos * 10000, 0) AS BIGINT))
                   AS DOUBLE) / (count(*) * 10000.0) AS ay
               FROM bk GROUP BY yid),
        sf AS (SELECT fk.xid, fk.yid, fk.cos,
                      round(fk.cos / greatest((ax.ax + ay.ay) / 2, 1e-6), 4)
                        AS margin
               FROM fk JOIN ax USING (xid) JOIN ay USING (yid)),
        sb AS (SELECT bk.xid, bk.yid,
                      round(bk.cos / greatest((ax.ax + ay.ay) / 2, 1e-6), 4)
                        AS margin
               FROM bk JOIN ax USING (xid) JOIN ay USING (yid)),
        bf AS (SELECT xid, yid, cos, margin FROM (
                 SELECT sf.*, row_number() OVER (PARTITION BY xid
                   ORDER BY margin DESC, yid) AS rk FROM sf) WHERE rk = 1),
        bb AS (SELECT xid, yid FROM (
                 SELECT sb.*, row_number() OVER (PARTITION BY yid
                   ORDER BY margin DESC, xid) AS rk FROM sb) WHERE rk = 1)
        SELECT bf.xid AS src_id, bf.yid AS tgt_id, bf.cos, bf.margin
        FROM bf JOIN bb USING (xid, yid) WHERE margin >= 1.0""") { (s, dir) =>
      import graft.operators.Bitext
      val e = Tables.load(s, dir, "embeddings")
      Bitext.mineBrute(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, minMargin = 1.0)
    },

    "bitext_ivf" -> QueryDef.noOracle(
      doc = "bitext mining PRODUCTION path alone (mineIvf: two ivfCrossTopK cell-co-partitioned bipartite probes, neither corpus broadcasts) - the query that carries the scale claim: the decade-step curve must stay ~linear here while bitext_ivf_gate's wall is dominated by the weak-by-design brute baseline it compares against (bipartite n^2, ~100x work per decade). Approximation -> rows-only; pair agreement vs brute is bitext_ivf_gate's hash-green contract") { (s, dir) =>
      import graft.operators.Bitext
      val e = Tables.load(s, dir, "embeddings")
      Bitext.mineIvf(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, minMargin = 1.0)
    },

    "bitext_index_gate" -> QueryDef(
      doc = "bitext serving path: mineFromIndexes over two PERSISTED IVF indexes (written to parquet stores and read back - the weekly re-mine reads stored (nid, cv, cid) tables and pays only probe joins + margin algebra, no re-training/re-assignment) must EQUAL mineIvf's from-scratch build both directions (deterministic centroids, no RNG - the FromIndex == rebuild proof, the knn_graph_delta_gate pattern for the bitext family), plus non-vacuity",
      oracle = "SELECT CAST(1 AS INTEGER) AS bitext_index_eq, " +
        "CAST(1 AS INTEGER) AS bitext_index_nonvacuous") { (s, dir) =>
      import s.implicits._
      import graft.operators.{Bitext, Similarity}
      val e = Tables.load(s, dir, "embeddings")
      val (x, y) = (e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
      // every x-side / y-side step is independent of its twin, and
      // the served mine is independent of the from-scratch mine —
      // overlap each pair (Par: guide §2.6); the protocol itself
      // (train → write → read+mine) stays sequential per side
      val (ncx, ncy) = Par.two(
        Similarity.autoCells(x.count()), Similarity.autoCells(y.count()))
      val (cx, cy) = Par.two(
        Similarity.trainCentroids(x, "vec_id", "embedding", ncx, 5),
        Similarity.trainCentroids(y, "vec_id", "embedding", ncy, 5))
      val store = java.nio.file.Files
        .createTempDirectory("graft-bitext-idx")
      Par.two(
        Similarity.ivfAssign(x, "vec_id", "embedding", cx)
          .write.parquet(store.resolve("x").toString),
        Similarity.ivfAssign(y, "vec_id", "embedding", cy)
          .write.parquet(store.resolve("y").toString))
      val (served, scratch) = Par.two(
        Bitext.mineFromIndexes(
          s.read.parquet(store.resolve("x").toString), cx,
          s.read.parquet(store.resolve("y").toString), cy,
          x, y, "vec_id", "embedding", k = 4, minMargin = 1.0)
          .localCheckpoint(true),
        Bitext.mineIvf(x, y, "vec_id", "embedding",
          k = 4, minMargin = 1.0).localCheckpoint(true))
      val eq = served.exceptAll(scratch)
        .unionByName(scratch.exceptAll(served)).isEmpty
      val nonvac = served.count() > 0
      Seq((if (eq) 1 else 0, if (nonvac) 1 else 0))
        .toDF("bitext_index_eq", "bitext_index_nonvacuous")
    },

    "bitext_ivf_gate" -> QueryDef(
      doc = "bitext scale-path gate: pairs mined by mineIvf (two ivfCrossTopK bipartite probes - cell-co-partitioned shuffle-hash joins, NEITHER corpus broadcast, cells scaled with the indexed side) vs the brute miner: pair agreement >= 0.5 (approximate neighborhoods shift both candidates AND margin normalizers, so mutual-best survival is the honest metric - measured ~0.9 at sf0.01 on the isotropic fixture) and non-vacuity (brute mines > 0 pairs)",
      oracle = "SELECT CAST(1 AS INTEGER) AS bitext_agree_ok, " +
        "CAST(1 AS INTEGER) AS bitext_nonvacuous") { (s, dir) =>
      import graft.operators.Bitext
      val e = Tables.load(s, dir, "embeddings")
      val (x, y) = (e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
      // brute baseline ∥ IVF path (Par: guide §2.6 overlap)
      val (brute, ivf) = Par.two(
        Bitext.mineBrute(x, y, "vec_id", "embedding",
          k = 4, minMargin = 1.0).select("src_id", "tgt_id")
          .localCheckpoint(true),
        Bitext.mineIvf(x, y, "vec_id", "embedding",
          k = 4, minMargin = 1.0).select(col("src_id"), col("tgt_id"),
            lit(1).as("hit"))
          .localCheckpoint(true))
      brute.join(broadcast(ivf), Seq("src_id", "tgt_id"), "left")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("hit"), lit(0))).as("agree"))
        .select(
          (coalesce(col("agree").cast("double") / col("n"), lit(1.0))
            >= 0.5).cast("int").as("bitext_agree_ok"),
          (col("n") > 0).cast("int").as("bitext_nonvacuous"))
    },

    "dsir_scores" -> QueryDef(
      doc = "DSIR importance scores (Xie et al. NeurIPS'23): log ratio of target (lang='en') vs raw hashed-bigram models per doc — fit pays two bucket-bounded passes, scoring is a zero-exchange literal-probe fold; oracle replays hash, smoothing, and fold in SQL (hash-verified end-to-end)",
      oracle = s"""
        WITH toks AS (SELECT doc_id, lang, $duckToks AS w FROM documents),
        g AS (SELECT doc_id, lang,
                     unnest(w || list_transform(range(1, len(w)),
                       i -> w[i] || ' ' || w[i+1])) AS g
              FROM toks),
        b AS (SELECT doc_id, lang,
                     CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 1024 AS bk
              FROM g),
        tc AS (SELECT bk, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bk),
        rc AS (SELECT bk, count(*) AS c FROM b GROUP BY bk),
        model AS (SELECT grid.bk,
              ln((coalesce(tc.c, 0) + 0.5) /
                 ((SELECT sum(c) FROM tc) + 0.5 * 1024))
            - ln((coalesce(rc.c, 0) + 0.5) /
                 ((SELECT sum(c) FROM rc) + 0.5 * 1024)) AS lr
          FROM (SELECT unnest(range(0, 1024)) AS bk) grid
          LEFT JOIN tc ON tc.bk = grid.bk
          LEFT JOIN rc ON rc.bk = grid.bk),
        s AS (SELECT t.doc_id, sum(m.lr) AS sc
              FROM b t JOIN model m ON m.bk = t.bk GROUP BY t.doc_id)
        SELECT d.doc_id, round(coalesce(s.sc, 0), 4) AS dsir_logw
        FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = Dsir.fit(docs.filter(col("lang") === "en"), docs,
        "text", buckets = 1024)
      Dsir.scores(docs, "doc_id", "text", model)
    },

    "dsir_select" -> QueryDef(
      doc = "DSIR importance resampling: Gumbel top-k (k=80) over the importance weights — sampling without replacement proportional to target-likeness, seeded md5 uniform so the draw is engine-reproducible; plans as TakeOrderedAndProject (no global sort exchange)",
      oracle = s"""
        WITH toks AS (SELECT doc_id, lang, $duckToks AS w FROM documents),
        g AS (SELECT doc_id, lang,
                     unnest(w || list_transform(range(1, len(w)),
                       i -> w[i] || ' ' || w[i+1])) AS g
              FROM toks),
        b AS (SELECT doc_id, lang,
                     CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 1024 AS bk
              FROM g),
        tc AS (SELECT bk, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bk),
        rc AS (SELECT bk, count(*) AS c FROM b GROUP BY bk),
        model AS (SELECT grid.bk,
              ln((coalesce(tc.c, 0) + 0.5) /
                 ((SELECT sum(c) FROM tc) + 0.5 * 1024))
            - ln((coalesce(rc.c, 0) + 0.5) /
                 ((SELECT sum(c) FROM rc) + 0.5 * 1024)) AS lr
          FROM (SELECT unnest(range(0, 1024)) AS bk) grid
          LEFT JOIN tc ON tc.bk = grid.bk
          LEFT JOIN rc ON rc.bk = grid.bk),
        s AS (SELECT t.doc_id, sum(m.lr) AS sc
              FROM b t JOIN model m ON m.bk = t.bk GROUP BY t.doc_id),
        keyed AS (SELECT d.doc_id,
            round(coalesce(s.sc, 0) + -ln(-ln(
              (CAST('0x' || substr(md5('dsir-epoch0:' ||
                 CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT) + 0.5)
              / 281474976710656.0)), 4) AS dsir_key
          FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id)
        SELECT doc_id, dsir_key FROM keyed
        ORDER BY dsir_key DESC, doc_id LIMIT 80""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = Dsir.fit(docs.filter(col("lang") === "en"), docs,
        "text", buckets = 1024)
      Dsir.select(docs, "doc_id", "text", model, k = 80,
        seed = "dsir-epoch0")
    }
  )
}
