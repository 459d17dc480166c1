package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.ext.TextAnalysis.{Sql => T}
import graft.functions.VectorFunctions

/** Training-data-pipeline extension queries: text analysis, language
  * ID, fingerprinting, exact/near deduplication (MinHash-LSH, SimHash,
  * n-gram Jaccard), similarity search (brute-force + LSH ANN),
  * embedding near-dups, multimodal feature plumbing — each with a
  * DuckDB oracle built from the same constants.
  */
object ExtQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Shared CTE prologue: tokens and shingles per document. */
  private[queries] val docCte =
    s"""WITH t AS (SELECT doc_id, text, lang, string_split(text, ' ') AS ts FROM documents),
       |  s AS (SELECT doc_id, ${T.shinglesOf("ts")} AS sh FROM t)""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Per-document text statistics + deterministic quality score. */
  def q21TextStats(s: SparkSession, d: String): DataFrame = {
    import TextAnalysis._
    val toks = tokens(col("text"))
    docs(s, d)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("bpe_tokens", bpeTokenCount(col("text")).cast("long"))
      .withColumn("n_digit", digitTokenCount(toks).cast("long"))
      .withColumn("n_stop", countIn(toks, Stopwords).cast("long"))
      .withColumn("quality",
        qualityScore(size(toks), digitTokenCount(toks), countIn(toks, Stopwords)))
      .select("doc_id", "n_chars", "n_tokens", "bpe_tokens", "n_digit", "n_stop", "quality")
  }

  val q21Sql: String =
    s"""SELECT doc_id, n_chars,
       |  CAST(${T.nTokens} AS BIGINT) AS n_tokens,
       |  CAST(${T.bpeCount} AS BIGINT) AS bpe_tokens,
       |  CAST(${T.nDigit} AS BIGINT) AS n_digit,
       |  CAST(${T.countIn(TextAnalysis.Stopwords)} AS BIGINT) AS n_stop,
       |  ${T.quality} AS quality
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Language-ID heuristic vs the labelled lang: confusion counts. */
  def q22LangId(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("predicted", TextAnalysis.langId(TextAnalysis.tokens(col("text"))))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  val q22Sql: String =
    s"""SELECT lang, ${T.langId} AS predicted, count(*) AS n
       |FROM documents GROUP BY lang, 2""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Document fingerprints: exact md5 + winnowing-style min-shingle-hash. */
  def q23Fingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      TextAnalysis.md5Fingerprint(col("text")).as("content_fp"),
      TextAnalysis.winnowFingerprint(col("text")).as("winnow_fp"))

  val q23Sql: String =
    s"""$docCte
       |SELECT t.doc_id, md5(t.text) AS content_fp, ${T.winnowOf("s.sh")} AS winnow_fp
       |FROM t JOIN s ON t.doc_id = s.doc_id""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Exact-dedup groups: digest -> copy count + canonical keep id. */
  def q24DedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(docs(s, d))

  val q24Sql: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
      |  min(doc_id) AS keep_doc_id
      |FROM documents GROUP BY md5(text)""".stripMargin

  // ---------------------------------------------------------------- q25
  /** MinHash signatures (k=12, word-3-gram shingles, md5 + salt). */
  def q25MinhashSig(s: SparkSession, d: String): DataFrame =
    Dedup.withMinhash(docs(s, d), 12)
      .select(col("doc_id") +: (0 until 12).map(i => col(s"mh$i")): _*)

  /** Minhash signature select list over a bound hash-array variable. */
  private def minhashSelects(hs: String): Seq[String] =
    Dedup.minhashPerms(12).zipWithIndex.map { case ((a, b), i) =>
      s"list_aggregate(list_transform($hs, h -> (h * $a + $b) % ${Dedup.MinhashPrime}), 'min') AS mh$i"
    }

  private val hashCte =
    s"""$docCte,
       |  hs AS (SELECT doc_id, list_transform(sh, x -> ${T.shingleHashOf("x")}) AS hs FROM s)""".stripMargin

  val q25Sql: String =
    s"""$hashCte
       |SELECT doc_id,
       |  ${minhashSelects("hs").mkString(",\n  ")}
       |FROM hs""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Full MinHash-LSH near-dup pipeline: 4 bands x 3 rows, verify
    * exact Jaccard >= 0.5 on candidates only (the 100 TB path — no
    * all-pairs product anywhere).
    */
  def q26LshNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDups(docs(s, d), k = 12, bands = 4, threshold = 0.5)

  val q26Sql: String = {
    val bandSelects = (0 until 4).map { b =>
      val parts = (0 until 3).map(r => s"mh${b * 3 + r} AS k$r").mkString(", ")
      s"SELECT doc_id, $b AS band, $parts FROM sig"
    }.mkString(" UNION ALL ")
    s"""$hashCte,
       |  sig AS (SELECT doc_id, ${minhashSelects("hs").mkString(", ")} FROM hs),
       |  bands AS ($bandSelects),
       |  cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |           FROM bands l JOIN bands r ON l.band = r.band
       |             AND l.k0 = r.k0 AND l.k1 = r.k1 AND l.k2 = r.k2
       |           WHERE l.doc_id < r.doc_id),
       |  ver AS (SELECT id_a, id_b,
       |            len(list_intersect(a.sh, b.sh)) AS inter,
       |            len(a.sh) AS na, len(b.sh) AS nb
       |          FROM cand JOIN s a ON a.doc_id = id_a JOIN s b ON b.doc_id = id_b)
       |SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM ver WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5""".stripMargin
  }

  // ---------------------------------------------------------------- q71
  /** Dedup CLUSTERS: q26's near-dup pairs folded into connected
    * components via LABEL CONTRACTION ([[graft.ext.Dedup
    * .contractiveComponents]] — each round contracts the graph to its
    * component graph, so the copy-group cliques that dominate dedup
    * inputs collapse in one round and later rounds run on the
    * inter-cluster remainder, not the corpus; min-label PROPAGATION
    * re-shuffled the full frame per round and scaled with rounds x
    * corpus). Labels are min-member ids in both tiers, so this swap is
    * bit-invisible to the oracle. Round 11 adds the EXACT-COPY
    * PRE-COLLAPSE ([[graft.ext.Dedup.nearDupComponents]]): identical
    * texts collapse to one representative before pair generation, so a
    * c-copy group costs O(c) rows instead of C(c,2) candidate edges —
    * the round-10 scale probe's only superlinear term. The oracle
    * computes the same components with a recursive CTE over the same
    * pair SQL — tiny closed components keep the closure bounded.
    */
  def q71DedupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupComponents(docs(s, d), k = 12, bands = 4, threshold = 0.5)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc_id"))

  /** Shared recursive-CTE prefix: near-dup pairs -> connected
    * components as `comp(id, cluster_id)` (q71 + q130 build on it).
    */
  private lazy val ccCtePrefix: String =
    s"""WITH RECURSIVE p AS ($q26Sql),
       |  edges AS (SELECT id_a AS src, id_b AS dst FROM p
       |            UNION ALL SELECT id_b, id_a FROM p),
       |  nodes AS (SELECT DISTINCT src AS id FROM edges),
       |  reach(id, lbl) AS (
       |    SELECT id, id FROM nodes
       |    UNION
       |    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
       |  comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  val q71Sql: String =
    s"""$ccCtePrefix
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  max(id) AS max_doc_id
       |FROM comp GROUP BY cluster_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** TF-IDF keyword extraction: corpus document frequencies joined
    * back to per-doc term frequencies, top-3 terms per document.
    * Scale shape: terms aggregate BEFORE any join (both tf and df are
    * map-side-combinable counts); the document-frequency table is
    * vocabulary-sized and the corpus-size scalar broadcasts.
    *
    * The rarity weight is the LOG-FREE surrogate (N+1)/(df+1): `ln`
    * is not IEEE-correctly-rounded, so cross-engine bit-equality is
    * not guaranteed for log-based scores; the surrogate is pure
    * division (exact) and strictly decreasing in df, so per-term
    * ordering for a fixed (tf, dlen) is the classic idf ordering.
    */
  def q72Tfidf(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dlen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_corpus"))
    val scored = tf.join(dlen, "doc_id").join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") / col("dlen")
          * ((col("n_corpus") + 1).cast("double") / (col("df") + 1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  val q72Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |  tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |  dlen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM toks GROUP BY 1),
      |  dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |  scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |      (CAST(tf.tf AS DOUBLE) / dlen.dlen)
      |        * (CAST((SELECT count(*) FROM documents) + 1 AS DOUBLE) / (dfreq.df + 1)) AS score
      |    FROM tf JOIN dlen ON tf.doc_id = dlen.doc_id
      |            JOIN dfreq ON tf.term = dfreq.term)
      |SELECT doc_id, rank, term, tf, df, score
      |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, term ASC) AS BIGINT) AS rank
      |      FROM scored)
      |WHERE rank <= 3""".stripMargin

  // ---------------------------------------------------------------- q81
  /** BM25 relevance scoring for a fixed query term set — TF-IDF's
    * (q72) production successor: the k1 saturation curve caps repeat
    * terms and the b length-normalization discounts long documents.
    * Same scale shape as q72 (tf/df pre-aggregate, vocabulary-sized
    * broadcast). The idf factor is the RATIONAL BM25 core
    * (N - df + 0.5)/(df + 0.5) without the outer ln: ln is not
    * correctly-rounded cross-engine, the rational form is pure
    * IEEE division (and a strictly monotone transform of classic
    * BM25 idf, so per-term orderings agree).
    */
  def q81Bm25(s: SparkSession, d: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val queryTerms = Seq("data", "hash", "join")
    val toks = docs(s, d).select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .filter(col("term").isin(queryTerms: _*))
    val dlen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
    val stats = docs(s, d).agg(count(lit(1)).as("n_corpus"))
      .crossJoin(dlen.agg(sum(col("dlen")).as("len_sum")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dlen, "doc_id")
      .join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("idf_r",
        (col("n_corpus") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("sat",
        col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dlen")
            / (col("len_sum").cast("double") / col("n_corpus")))))
      .withColumn("bm25", col("idf_r") * col("sat"))
    // fixed-order sum: a floating `sum()` over the per-term scores
    // would depend on partition order; pivoting to one column per
    // query term and adding left-to-right is order-independent
    scored.groupBy(col("doc_id"))
      .agg(max(when(col("term") === "data", col("bm25"))).as("s0"),
           max(when(col("term") === "hash", col("bm25"))).as("s1"),
           max(when(col("term") === "join", col("bm25"))).as("s2"),
           count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === queryTerms.size) // docs matching ALL terms
      .select(col("doc_id"),
              (col("s0") + col("s1") + col("s2")).as("score"), col("n_terms"))
  }

  val q81Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |  tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
      |         WHERE term IN ('data', 'hash', 'join') GROUP BY 1, 2),
      |  dlen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM toks GROUP BY 1),
      |  stats AS (SELECT (SELECT count(*) FROM documents) AS n_corpus,
      |                   (SELECT sum(dlen) FROM dlen) AS len_sum),
      |  dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |  scored AS (SELECT tf.doc_id, tf.term,
      |      ((stats.n_corpus - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |        * (tf.tf * (1.2 + 1) /
      |           (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dlen.dlen
      |             / (CAST(stats.len_sum AS DOUBLE) / stats.n_corpus)))) AS bm25
      |    FROM tf JOIN dlen ON tf.doc_id = dlen.doc_id
      |            JOIN dfreq ON tf.term = dfreq.term
      |            CROSS JOIN stats)
      |SELECT doc_id,
      |  (max(CASE WHEN term = 'data' THEN bm25 END)
      |    + max(CASE WHEN term = 'hash' THEN bm25 END)
      |    + max(CASE WHEN term = 'join' THEN bm25 END)) AS score,
      |  CAST(count(*) AS BIGINT) AS n_terms
      |FROM scored GROUP BY doc_id
      |HAVING count(*) = 3""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Brute-force n-gram Jaccard on a bounded id range (exact baseline
    * for q26's recall; not the scale path).
    */
  def q27NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.bruteJaccardPairs(docs(s, d), idCap = 200, threshold = 0.5)

  val q27Sql: String =
    s"""$docCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE a.doc_id < 200 AND b.doc_id < 200
       |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5""".stripMargin

  // ---------------------------------------------------------------- q28
  /** 48-bit SimHash signatures (md5-parity bits, token-majority). */
  def q28SimhashSig(s: SparkSession, d: String): DataFrame =
    Dedup.withSimhash(docs(s, d)).select(col("doc_id"), col("simhash"))

  private val simhashCte =
    s"WITH th AS (SELECT doc_id, ${T.tokenHashes} AS hs FROM documents)"

  val q28Sql: String =
    s"""$simhashCte
       |SELECT doc_id, ${T.simhashOf("hs")} AS simhash FROM th""".stripMargin

  // ---------------------------------------------------------------- q29
  /** SimHash near-pairs, hamming <= 3, via 12-bit block pigeonhole. */
  def q29SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearPairs(Dedup.withSimhash(docs(s, d)), maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("long"))

  val q29Sql: String = {
    val nibbleSelects = (0 until 4).map { j =>
      s"SELECT doc_id, simhash, $j AS nib, (simhash >> ${12 * j}) & 4095 AS nv FROM sig"
    }.mkString(" UNION ALL ")
    s"""$simhashCte,
       |  sig AS (SELECT doc_id, ${T.simhashOf("hs")} AS simhash FROM th),
       |  nib AS ($nibbleSelects),
       |  cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |             l.simhash AS sh_a, r.simhash AS sh_b
       |           FROM nib l JOIN nib r ON l.nib = r.nib AND l.nv = r.nv
       |           WHERE l.doc_id < r.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- q30
  /** Brute-force cosine top-5 for the first 20 query vectors —
    * codegen'd CosineSimilarity expression, broadcast query side.
    */
  def q30KnnBrute(s: SparkSession, d: String): DataFrame =
    Similarity.knnBrute(emb(s, d), nQueries = 20, k = 5)
      .withColumn("rank", col("rank").cast("long"))

  private val cosQC = VectorFunctions.cosineSqlDuck("qe", "ce")

  val q30Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |  c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |  sc AS (SELECT qid, cid, round($cosQC, 6) AS cos6 FROM q, c WHERE cid <> qid)
       |SELECT qid, rank, cid, cos6 FROM
       |  (SELECT qid, cid, cos6, row_number() OVER
       |     (PARTITION BY qid ORDER BY cos6 DESC, cid) AS rank FROM sc)
       |WHERE rank <= 5""".stripMargin

  // ---------------------------------------------------------------- q31
  /** ANN via multi-probe sign-random-projection LSH (4 deterministic
    * hyperplanes, 16 buckets, 5 probes/query = own + hamming-1
    * neighbors); approximate by design. The oracle embeds the same
    * plane literals.
    */
  private lazy val Planes = Similarity.planes(nPlanes = 4, dim = 64)

  def q31AnnLsh(s: SparkSession, d: String): DataFrame =
    Similarity.annLsh(emb(s, d), nQueries = 20, k = 3, Planes)
      .withColumn("rank", col("rank").cast("long"))

  val q31Sql: String = {
    val planesLit = Similarity.planesSqlLiteral(Planes)
    def dot(e: String, p: Int) =
      s"list_sum(list_transform(generate_series(1, len($e)), " +
        s"i -> CAST($e[i] AS DOUBLE) * (($planesLit)[${p + 1}])[i]))"
    def bucket(e: String) = (0 until 4).map { p =>
      s"(CASE WHEN ${dot(e, p)} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH wb AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket FROM embeddings),
       |  q AS (SELECT qid, qe, probe AS bucket FROM
       |    (SELECT vec_id AS qid, embedding AS qe,
       |       unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS probe
       |     FROM wb WHERE vec_id < 20)),
       |  c AS (SELECT vec_id AS cid, embedding AS ce, bucket FROM wb),
       |  sc AS (SELECT qid, cid, round($cosQC, 6) AS cos6
       |         FROM q JOIN c USING (bucket) WHERE cid <> qid)
       |SELECT qid, rank, cid, cos6 FROM
       |  (SELECT qid, cid, cos6, row_number() OVER
       |     (PARTITION BY qid ORDER BY cos6 DESC, cid) AS rank FROM sc)
       |WHERE rank <= 3""".stripMargin
  }

  // ------------------------------------------------------------ q32/q99
  /** Embedding near-dup pairs over the planted-copy corpus (vec_id <
    * 500 plus a jittered float32 copy of every 5th vector at +100000;
    * the qualifying set is exactly the 100 planted pairs at cosine
    * ~0.998 against a ~0.6 background — see
    * [[Similarity.plantedNearDupCorpus]]). q32 gates the brute
    * all-pairs baseline; q99 gates the banded sign-LSH scale path
    * (4 tables x 10 sign bits, deterministic seed-42 hyperplanes).
    * BOTH share the brute DuckDB oracle below, so a green q99 IS the
    * proof that the bucketed equi-join enumeration reproduces the
    * cross-join baseline pair-for-pair on the same corpus and
    * threshold. (r3's tau=0.4 gate was dropped: at 66-degree pair
    * angles no bucketing prunes — LSH is a near-dup tool.)
    */
  private lazy val NearDupPlanes = Similarity.planes(nPlanes = 40, dim = 64, seed = 42L)

  def q32EmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    Similarity.nearDupPairsBrute(
      Similarity.plantedNearDupCorpus(emb(s, d), idCap = 500), threshold = 0.9)

  def q99EmbeddingNearDupLsh(s: SparkSession, d: String): DataFrame =
    Similarity.nearDupPairsLsh(
      Similarity.plantedNearDupCorpus(emb(s, d), idCap = 500), threshold = 0.9,
      NearDupPlanes, bands = 4)

  val q32Sql: String = {
    val cosAB = VectorFunctions.cosineSqlDuck("ea", "eb")
    // corpus CTEs shared with q117Sql via Similarity — one source of
    // truth for the jitter constants and the copy offset
    s"""WITH ${Similarity.plantedCorpusSqlCtes(500L)},
       |  a AS (SELECT vec_id AS id_a, embedding AS ea FROM corpus),
       |  b AS (SELECT vec_id AS id_b, embedding AS eb FROM corpus)
       |SELECT id_a, id_b, round($cosAB, 6) AS cos6
       |FROM a, b WHERE id_a < id_b AND round($cosAB, 6) >= 0.9""".stripMargin
  }

  // ---------------------------------------------------------------- q33
  /** Multimodal feature extraction (stubbed decode): binary payload +
    * typed metadata; expression twin of the mapPartitions plumbing.
    */
  def q33MultimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.featuresExpr(Multimodal.mediaFromDocuments(docs(s, d)))

  val q33Sql: String =
    """WITH m AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents)
      |SELECT doc_id, modality, n_bytes,
      |  CAST(CASE WHEN modality = 'audio' THEN 0 ELSE 16 + n_bytes % 640 END AS BIGINT) AS width,
      |  CAST(CASE WHEN modality = 'audio' THEN 0 ELSE 16 + (n_bytes // 7) % 480 END AS BIGINT) AS height,
      |  CAST(CASE WHEN modality = 'image' THEN 1 WHEN modality = 'audio' THEN 0
      |       ELSE 1 + n_bytes % 16 END AS BIGINT) AS n_frames,
      |  CAST(CASE WHEN modality = 'audio' THEN 8000 + (n_bytes % 5) * 8000 ELSE 0 END AS BIGINT) AS sample_rate
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q85
  /** REAL codec decode at the gate: deterministic BMP/WAV/PPM payloads
    * are synthesized ON THE EXECUTORS (width/height/color/sample-rate
    * are pure formulas of doc_id), decoded by the pure-JVM parsers in
    * [[graft.ext.Multimodal]], and the parsed dimensions, sample rate
    * and MEAN PIXEL VALUE (proof the pixel payload was read, not just
    * the header) must match the oracle's closed-form recomputation.
    * End-to-end distributed: generate -> decode -> features, no
    * driver-side payload handling; the id cap only bounds fixture
    * count, decode cost is O(payload) per row either way.
    */
  def q85CodecDecode(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Multimodal
    import Multimodal.MediaRecord
    implicit val spark: SparkSession = s
    import s.implicits._
    val media = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 200)
      .as[Long].map { id =>
        (id % 3) match {
          case 0 => MediaRecord(id, "image",
            Multimodal.encodeBmp(2 + (id % 14).toInt, 2 + (id % 9).toInt,
              ((id * 37) % 256).toInt))
          case 1 => MediaRecord(id, "audio",
            Multimodal.encodeWav(8000 * (1 + (id % 6).toInt), 100))
          case _ => MediaRecord(id, "video",
            Multimodal.encodePpm(1 + (id % 17).toInt, 1 + (id % 11).toInt,
              ((id * 53) % 256).toInt))
        }
      }
    Multimodal.codecFeatures(media).toDF()
  }

  val q85Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 + doc_id % 14
      |            WHEN doc_id % 3 = 1 THEN 0 ELSE 1 + doc_id % 17 END AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 + doc_id % 9
      |            WHEN doc_id % 3 = 1 THEN 0 ELSE 1 + doc_id % 11 END AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 * (1 + doc_id % 6) ELSE 0 END AS BIGINT) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 37) % 256
      |            WHEN doc_id % 3 = 1 THEN 0 ELSE (doc_id * 53) % 256 END AS BIGINT) AS mean_px
      |FROM documents WHERE doc_id < 200""".stripMargin

  // ---------------------------------------------------------------- q124
  /** Multimodal RESIZE + FRAME-SAMPLE — the transform step after q85's
    * decode: even ids carry a gradient BMP (pixel(x,y) =
    * (x*7+y*13+seed) % 256) that is decoded and nearest-neighbor
    * resized to 4x4; odd ids carry PCM16 WAV samples
    * (sample(i) = (i*31+id) % 256) that are frame-sampled every 4th.
    * The emitted checksum is the SUM over the resampled values, so the
    * oracle re-derives the exact positional arithmetic — a resize that
    * reads the wrong source pixel (or a frame-sampler with an
    * off-by-one stride) hash-mismatches. Gradient content (not a
    * constant fill) is what makes position errors visible.
    */
  def q124MediaResample(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Multimodal
    implicit val spark: SparkSession = s
    import s.implicits._
    docs(s, d).select(col("doc_id")).filter(col("doc_id") < 120).as[Long].map { id =>
      if (id % 2 == 0) {
        val (w, h, seed) = (3 + (id % 13).toInt, 3 + (id % 9).toInt, (id % 251).toInt)
        val (dw, dh, px) = Multimodal.decodeBmp(Multimodal.encodeBmpGradient(w, h, seed))
          .getOrElse(sys.error(s"BMP decode failed for id $id"))
        val res = Multimodal.resizeNearest(dw, dh, px, 4, 4)
        val sum = (0 until 16).map(i => res(i * 3) & 0xff).sum.toLong
        (id, "image", 16L, sum)
      } else {
        val n = 64 + (id % 64).toInt
        val pcm = Array.tabulate(n)(i => ((i * 31 + id) % 256).toShort)
        val dec = Multimodal.decodeWavSamples(Multimodal.encodeWavPcm(8000, pcm))
          .getOrElse(sys.error(s"WAV decode failed for id $id"))
        val sampled = Multimodal.frameSample(dec, 4)
        (id, "audio", sampled.length.toLong, sampled.map(_.toLong).sum)
      }
    }.toDF("doc_id", "modality", "n_out", "resampled_sum")
  }

  val q124Sql: String =
    """SELECT doc_id, 'image' AS modality, CAST(16 AS BIGINT) AS n_out,
      |  CAST(list_sum(flatten(list_transform(generate_series(0, 3), y ->
      |    list_transform(generate_series(0, 3), x ->
      |      (((x * (3 + doc_id % 13)) // 4) * 7
      |       + ((y * (3 + doc_id % 9)) // 4) * 13
      |       + doc_id % 251) % 256)))) AS BIGINT) AS resampled_sum
      |FROM documents WHERE doc_id < 120 AND doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, 'audio', CAST((64 + doc_id % 64 - 1) // 4 + 1 AS BIGINT),
      |  CAST(list_sum(list_transform(generate_series(0, (64 + doc_id % 64 - 1) // 4),
      |    i -> (i * 4 * 31 + doc_id) % 256)) AS BIGINT)
      |FROM documents WHERE doc_id < 120 AND doc_id % 2 = 1""".stripMargin

  // ---------------------------------------------------------------- q100
  /** PNG + JPEG at the gate (q85's pattern, the formats a real corpus
    * actually contains): even ids carry a REAL truecolor PNG —
    * deflated IDAT, filter rows, CRCs — whose decode (JVM-zlib
    * inflate + unfilter) must recover exact dimensions AND the mean
    * pixel value (proof the compressed pixel payload was read);
    * odd ids carry a JPEG marker stream whose SOF0 header must yield
    * the exact dimensions, with mean_px = -1 documenting the
    * header-only contract (scan data needs an external DCT codec).
    * Fixtures are synthesized on the executors as pure formulas of
    * doc_id; the oracle recomputes everything in closed form.
    */
  def q100CodecHeaders(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Multimodal
    import Multimodal.MediaRecord
    implicit val spark: SparkSession = s
    import s.implicits._
    val media = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 200)
      .as[Long].map { id =>
        if (id % 2 == 0)
          MediaRecord(id, "image",
            Multimodal.encodePng(2 + (id % 13).toInt, 2 + (id % 7).toInt,
              ((id * 41) % 256).toInt))
        else
          MediaRecord(id, "image",
            Multimodal.encodeJpegHeader(3 + (id % 19).toInt, 3 + (id % 23).toInt))
      }
    Multimodal.codecFeatures(media).toDF()
  }

  val q100Sql: String =
    """SELECT doc_id, 'image' AS modality,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 + doc_id % 13
      |            ELSE 3 + doc_id % 19 END AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 + doc_id % 7
      |            ELSE 3 + doc_id % 23 END AS BIGINT) AS height,
      |  CAST(1 AS BIGINT) AS n_frames,
      |  CAST(0 AS BIGINT) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 41) % 256
      |            ELSE -1 END AS BIGINT) AS mean_px
      |FROM documents WHERE doc_id < 200""".stripMargin

  // ---------------------------------------------------------------- q136
  /** REAL baseline-JPEG scan decode at the gate — closes the last
    * header-only word in the codec tier (q100 proves SOFn dims; this
    * proves the entropy-coded scan is decoded to pixels, through the
    * JDK's own libjpeg binding in [[graft.ext.JpegCodec]]). Fixture
    * discipline: flat gray fills round-trip EXACTLY through baseline
    * JPEG (only the DC coefficient survives the FDCT of a flat block,
    * and Cb=Cr=128 is a fixed point of the color transform), so
    * mean_px == fill value is
    * a closed-form oracle even though the codec is lossy in general —
    * while a header-only reader would emit -1 and hash-mismatch every
    * row. Ids rotate through the three baseline profiles: grayscale
    * single-component, 4:4:4 color, and 4:2:0 subsampled with restart
    * markers every 2 MCUs; dims are non-multiples of 8 so every decode
    * crops MCU padding. The lossy (gradient/AC) path is
    * tolerance-bounded in ExtSpec, where an exactness oracle cannot
    * exist.
    */
  def q136JpegDecode(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{JpegCodec, Multimodal}
    import Multimodal.MediaRecord
    implicit val spark: SparkSession = s
    import s.implicits._
    val media = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 150)
      .as[Long].map { id =>
        val w = 3 + (id % 21).toInt
        val h = 3 + (id % 17).toInt
        val v = ((id * 59) % 256).toInt
        val px = JpegCodec.flatRgb(w, h, v)
        val payload = (id % 3) match {
          case 0 => JpegCodec.encode(w, h, px, gray = true)
          case 1 => JpegCodec.encode(w, h, px)
          case _ => JpegCodec.encode(w, h, px, subsample420 = true, restartEvery = 2)
        }
        MediaRecord(id, "image", payload)
      }
    Multimodal.codecFeatures(media).toDF()
  }

  val q136Sql: String =
    """SELECT doc_id, 'image' AS modality,
      |  CAST(3 + doc_id % 21 AS BIGINT) AS width,
      |  CAST(3 + doc_id % 17 AS BIGINT) AS height,
      |  CAST(1 AS BIGINT) AS n_frames,
      |  CAST(0 AS BIGINT) AS sample_rate,
      |  CAST((doc_id * 59) % 256 AS BIGINT) AS mean_px
      |FROM documents WHERE doc_id < 150""".stripMargin

  // ---------------------------------------------------------------- q138
  /** Audio FEATURE EXTRACTION over real decoded PCM — the curation
    * metrics an audio pipeline filters on: energy (integer sum of
    * squares — exact cross-engine, no float RMS), zero-crossing count
    * (sign(0) = non-negative), absolute peak. Deterministic PCM16
    * fixtures (sample_i = (i*31 + id) % 256 - 128) are encoded to real
    * RIFF/WAVE on the executors, decoded back through the total WAV
    * parser, and the features must match the oracle's closed-form
    * recomputation — a decoder that misreads the data chunk, an
    * off-by-one in the crossing scan, or a sign-extension bug all
    * hash-mismatch.
    */
  def q138AudioFeatures(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Multimodal
    import Multimodal.MediaRecord
    implicit val spark: SparkSession = s
    import s.implicits._
    val media = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 150)
      .as[Long].map { id =>
        val n = 64 + (id % 64).toInt
        val pcm = Array.tabulate(n)(i => ((i * 31 + id) % 256 - 128).toShort)
        MediaRecord(id, "audio",
          Multimodal.encodeWavPcm(8000 * (1 + (id % 5).toInt), pcm))
      }
    Multimodal.audioFeatures(media).toDF()
  }

  val q138Sql: String =
    """WITH s AS (
      |  SELECT doc_id, 8000 * (1 + doc_id % 5) AS sample_rate,
      |         64 + doc_id % 64 AS n,
      |         list_transform(generate_series(0, CAST(64 + doc_id % 64 AS INT) - 1),
      |                        i -> (i * 31 + doc_id) % 256 - 128) AS sm
      |  FROM documents WHERE doc_id < 150)
      |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) AS sum_sq,
      |  CAST(len(list_filter(generate_series(2, CAST(n AS INT)),
      |       i -> (sm[i] >= 0) <> (sm[i - 1] >= 0))) AS BIGINT) AS zero_crossings,
      |  CAST(list_max(list_transform(sm, x -> abs(x))) AS BIGINT) AS peak
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- q101
  /** C4-style BOILERPLATE removal — the corpus-cleaning step between
    * dedup and quality scoring in a real training pipeline: text is
    * chunked into consecutive 5-word segments, any segment occurring
    * in >= 5 distinct documents (site chrome, cookie banners,
    * "subscribe" footers) is dropped corpus-wide, and the surviving
    * segments reassemble each document. The corpus is boilerplate-free
    * by construction, so a deterministic banner is PREPENDED to every
    * 7th doc (q91's injection idiom) — prepending keeps it
    * chunk-aligned at cid 0 in every carrier.
    *
    * Scale shape: one explode to (doc, cid, chunk), a hash aggregate
    * for segment document-frequency, an equi-join on the chunk key,
    * and per-doc reassembly via sort-free array_sort(collect_list) —
    * no window over the corpus, no cartesian; identical to the
    * contamination screen's cost model (df-capped key join).
    */
  def q101BoilerplateStrip(s: SparkSession, d: String): DataFrame = {
    val banner = "subscribe to our newsletter now"
    val withB = docs(s, d).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(banner + " "), col("text"))).otherwise(col("text")).as("text"))
    // the exploded frame feeds the df aggregate AND both ends of the
    // keep-join: persist once, eagerly (q86's pattern — harnesses
    // clear per query, prod materializes a segment table)
    val chunked = withB
      .select(col("doc_id"), split(col("text"), " ").as("sp"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, cast(ceil(size(sp) / 5.0) as int) - 1),
          |          c -> array_join(slice(sp, c * 5 + 1, 5), ' '))""".stripMargin))
        .as(Seq("cid", "chunk")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunked.count()
    val segDf = chunked.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val keep = chunked.join(segDf, "chunk").filter(col("df") < 5)
    val totals = chunked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val kept = keep.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           array_join(expr(
             "transform(array_sort(collect_list(struct(cid, chunk))), e -> e.chunk)"),
             " ").as("cleaned"))
    totals.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
              (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
              coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  val q101Sql: String =
    """WITH t AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |         THEN 'subscribe to our newsletter now ' || text ELSE text END AS text
      |  FROM documents),
      |  ch AS (SELECT doc_id, cid,
      |      array_to_string(sp[(cid * 5 + 1):(cid * 5 + 5)], ' ') AS chunk
      |    FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM t),
      |         unnest(generate_series(0, CAST(ceil(len(sp) / 5.0) AS BIGINT) - 1)) AS g(cid)),
      |  sdf AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk),
      |  keep AS (SELECT ch.* FROM ch JOIN sdf USING (chunk) WHERE df < 5),
      |  tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY doc_id),
      |  ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |      string_agg(chunk, ' ' ORDER BY cid) AS cleaned
      |    FROM keep GROUP BY doc_id)
      |SELECT tot.doc_id, n_chunks,
      |  n_chunks - coalesce(n_kept, 0) AS n_dropped,
      |  coalesce(cleaned, '') AS cleaned
      |FROM tot LEFT JOIN ka USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Benchmark-contamination screen — the release gate every training
    * corpus needs: find training docs sharing >= minShared distinct
    * word-3-grams with any eval-set doc. Scale shape: explode to
    * DISTINCT (doc, shingle) pairs, drop STOP-SHINGLES (document
    * frequency > dfCap — boilerplate n-grams that would otherwise
    * join-explode; the classic hot-key guard), then a plain equi-join
    * on the shingle key + count aggregate. Never an all-pairs compare:
    * cost is sum over kept shingles of (train_df x eval_df), bounded
    * by dfCap, and PlanSpec asserts the join stays hash/sort-merge
    * (no cartesian fallback).
    */
  def q86Contamination(s: SparkSession, d: String): DataFrame = {
    import TextAnalysis._
    val evalCap = 100L   // doc_id < evalCap plays the benchmark set
    val dfCap = 50L
    val minShared = 5L
    // the exploded (doc, shingle) frame feeds the df aggregate AND
    // both join sides: persist once, eagerly (same pattern/cache
    // contract as minhashNearDups — Bench/Verify clear per query;
    // prod materializes a shingle table)
    val sh = docs(s, d)
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    val keep = sh.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("g"))
    val kept = sh.join(keep, "g")
    val tr = kept.filter(col("doc_id") >= evalCap).withColumnRenamed("doc_id", "train_id")
    val ev = kept.filter(col("doc_id") < evalCap).withColumnRenamed("doc_id", "eval_id")
    tr.join(ev, "g")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  val q86Sql: String =
    s"""$docCte,
       |  ed AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
       |  keep AS (SELECT g FROM ed GROUP BY g HAVING count(*) <= 50),
       |  k AS (SELECT ed.doc_id, ed.g FROM ed JOIN keep USING (g))
       |SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM k tr JOIN k ev ON tr.g = ev.g
       |WHERE tr.doc_id >= 100 AND ev.doc_id < 100
       |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin

  // ---------------------------------------------------------------- q288
  /** Contamination SPAN EXCISION — the cleaning ACTION behind q86's
    * screen: instead of flagging whole training documents, locate the
    * token positions whose word-3-gram appears anywhere in the eval
    * benchmark, merge OVERLAPPING hit spans ([p, p+2] windows; gaps-
    * and-islands on start positions, new island when the next start is
    * > 2 past the previous), and account the excision per document —
    * the GPT-3/Pile-style "remove the contaminated span, keep the
    * document" discipline, where dropping whole docs would forfeit the
    * clean 99% of a long document over one quoted benchmark sentence.
    * Scale shape: the benchmark's distinct shingle set is the SMALL
    * side (eval sets are ~1e5 docs at 100 TB) — broadcast semi-join
    * against the corpus's positional grams, so the corpus is touched
    * by ONE linear pass with no shuffle of corpus text; the island
    * merge then windows over HIT positions only (a few rows per
    * contaminated doc, not per token). Returns one row per CONTAMINATED
    * training doc: token count, merged span count, tokens excised.
    */
  def q288DecontamSpanExcise(s: SparkSession, d: String): DataFrame = {
    import TextAnalysis._
    val evalCap = 100L // doc_id < evalCap plays the benchmark set
    val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("ts"))
    // positional 3-grams, 1-based starts, whole-suffix clamp for short
    // docs (same convention as WordShingles / DuckDB ts[i:i+2])
    val grams = base
      .withColumn("n_tok", size(col("ts")).cast("long"))
      .select(col("doc_id"), col("n_tok"), explode(expr(
        "transform(sequence(1, greatest(size(ts) - 2, 1)), " +
          "i -> named_struct('p', CAST(i AS BIGINT), " +
          "'w', array_join(slice(ts, i, 3), ' ')))")).as("u"))
      .select(col("doc_id"), col("n_tok"),
        col("u.p").as("p"), col("u.w").as("w"))
    val bench = grams.filter(col("doc_id") < evalCap).select(col("w")).distinct()
    val hits = grams.filter(col("doc_id") >= evalCap)
      .join(broadcast(bench), Seq("w"), "left_semi")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    // islands: a hit whose span [p, p+2] overlaps the previous hit's
    // span continues the island; starts are distinct per doc
    val islands = hits
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(byDoc) <= 2, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(byDoc))
    val spans = islands.groupBy(col("doc_id"), col("n_tok"), col("island"))
      .agg(min(col("p")).as("p0"),
           least(max(col("p")) + 2, col("n_tok")).as("p1"))
    spans.groupBy(col("doc_id").as("train_id"), col("n_tok").as("n_tokens"))
      .agg(count(lit(1)).as("n_spans"),
           sum(col("p1") - col("p0") + 1).as("n_removed"))
  }

  val q288Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |  pg0 AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
      |      unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
      |        i -> struct_pack(p := i, w := array_to_string(ts[i:i+2], ' ')))) AS u
      |    FROM t),
      |  pg AS (SELECT doc_id, n_tok, u.p AS p, u.w AS w FROM pg0),
      |  b AS (SELECT DISTINCT w FROM pg WHERE doc_id < 100),
      |  h AS (SELECT doc_id, n_tok, p FROM pg
      |    WHERE doc_id >= 100 AND w IN (SELECT w FROM b)),
      |  i AS (SELECT doc_id, n_tok, p,
      |      CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 2
      |           THEN 0 ELSE 1 END AS brk FROM h),
      |  j AS (SELECT doc_id, n_tok, p,
      |      sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM i),
      |  sp AS (SELECT doc_id, n_tok, island, min(p) AS p0,
      |      least(max(p) + 2, n_tok) AS p1
      |    FROM j GROUP BY doc_id, n_tok, island)
      |SELECT doc_id AS train_id, n_tok AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(p1 - p0 + 1) AS BIGINT) AS n_removed
      |FROM sp GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Deterministic mixture sampling — corpus mixing WITHOUT an RNG:
    * keep a doc iff md5-bucket(doc_id) < weight(source) * 10000. Fully
    * reproducible (resumable/backfillable at 100 TB — no sampler state
    * to replay) and therefore EXACT at the gate: the oracle recomputes
    * the identical hash decision, no statistical witness needed —
    * strictly stronger than q53's RNG-based quota check. Weights
    * derive from the source id (src0..: 0.25/0.5/0.75/1.0 by s % 4).
    */
  def q90MixtureSample(s: SparkSession, d: String): DataFrame = {
    val w = expr("(CAST(substring(source, 4) AS INT) % 4) / 4.0 + 0.25")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
      .cast("long") % 10000
    docs(s, d)
      .withColumn("w", w).withColumn("b", bucket)
      .filter(col("b") < col("w") * 10000)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
  }

  val q90Sql: String =
    """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM (SELECT *,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000 AS b,
      |    (CAST(substr(source, 4) AS INT) % 4) / 4.0 + 0.25 AS w
      |  FROM documents)
      |WHERE b < w * 10000
      |GROUP BY source, lang""".stripMargin

  // ---------------------------------------------------------------- q91
  /** The CURATION FUNNEL — the composed end-to-end corpus filter every
    * training pipeline runs, reported as per-stage survivor counts +
    * id checksums: langID-agreement -> quality threshold -> length
    * bounds -> exact dedup. Each stage reuses a gated primitive
    * (q22's langId, q21's quality score, q24's digest dedup); the
    * funnel pins their COMPOSITION, where stage-ordering bugs hide.
    * Threshold compares are safe cross-engine because both quality
    * and langId are already hash-green bit-identical (q21/q22).
    */
  def q91CurationFunnel(s: SparkSession, d: String): DataFrame = {
    import TextAnalysis._
    val toks = tokens(col("text"))
    // inject deterministic exact duplicates (every 10th doc, re-id'd)
    // so the dedup stage demonstrably collapses copies back to the
    // canonical min-id row — the synthetic corpus itself is dup-free
    val raw = docs(s, d)
    val input = raw.unionByName(
      raw.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    // SINGLE-PASS funnel: per-doc boolean flags for every filter stage
    // in one projection (a naive per-stage .agg chain would rescan the
    // corpus once per stage — 5 scans at 100 TB); the raw text is
    // reduced to its digest in the same pass, so the flags frame is
    // narrow (id + fp + 3 booleans), eagerly persisted, and BOTH
    // consumers (the flag totals and the dedup aggregate) read the
    // materialized flags instead of re-running tokenize/langID/quality.
    val flagged = input
      .withColumn("f1", langId(toks) === col("lang"))
      .withColumn("f2", col("f1") &&
        qualityScore(size(toks), digitTokenCount(toks), countIn(toks, Stopwords)) >= 0.7)
      .withColumn("f3", col("f2") && col("n_chars").between(50, 5000))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("__fp"),
              col("f1"), col("f2"), col("f3"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flagged.count()
    // stage-4 winners: min doc_id per digest among stage-3 survivors
    // (map-side combinable; shuffles one candidate per distinct text)
    val s4 = flagged.filter(col("f3"))
      .groupBy(col("__fp"))
      .agg(min(col("doc_id")).as("doc_id"))
    def n(flag: org.apache.spark.sql.Column) = sum(when(flag, 1L).otherwise(0L))
    def i(flag: org.apache.spark.sql.Column) = sum(when(flag, col("doc_id")).otherwise(0L))
    val one = flagged.agg(
      count(lit(1)).cast("long").as("n0"), sum(col("doc_id")).as("i0"),
      n(col("f1")).as("n1"), i(col("f1")).as("i1"),
      n(col("f2")).as("n2"), i(col("f2")).as("i2"),
      n(col("f3")).as("n3"), i(col("f3")).as("i3"))
    val s4agg = s4.agg(count(lit(1)).cast("long").as("n4"),
      coalesce(sum(col("doc_id")), lit(0L)).as("i4"))
    // one row x one row -> stack pivots it into the 5 funnel rows
    // WITHOUT re-executing the aggregates per stage
    one.crossJoin(s4agg).select(expr(
      """stack(5,
        |  0L, 'all',         n0, coalesce(i0, 0L),
        |  1L, 'lang',        n1, i1,
        |  2L, 'quality',     n2, i2,
        |  3L, 'length',      n3, i3,
        |  4L, 'exact_dedup', n4, i4
        |) AS (stage_ord, stage, n, id_sum)""".stripMargin))
  }

  val q91Sql: String =
    s"""WITH input AS (
       |    SELECT doc_id, text, lang, n_chars FROM documents
       |    UNION ALL
       |    SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars
       |    FROM documents WHERE doc_id % 10 = 0),
       |  t0 AS (SELECT doc_id, text, lang, n_chars,
       |    ${T.quality} AS q, ${T.langId} AS predicted FROM input),
       |  s1 AS (SELECT * FROM t0 WHERE predicted = lang),
       |  s2 AS (SELECT * FROM s1 WHERE q >= 0.7),
       |  s3 AS (SELECT * FROM s2 WHERE n_chars BETWEEN 50 AND 5000),
       |  s4 AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY md5(text))
       |SELECT CAST(0 AS BIGINT) AS stage_ord, 'all' AS stage,
       |  CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM t0
       |UNION ALL SELECT 1, 'lang', CAST(count(*) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s1
       |UNION ALL SELECT 2, 'quality', CAST(count(*) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT 3, 'length', CAST(count(*) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s3
       |UNION ALL SELECT 4, 'exact_dedup', CAST(count(*) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s4""".stripMargin

  // ---------------------------------------------------------------- q95
  /** MERGEABLE distinct-count sketches (DataSketches HLL via
    * hll_sketch_agg / hll_union_agg) — the capability q39's direct
    * approx_count_distinct cannot give at 100 TB: per-partition/
    * per-group sketches are STORED (binary column) and UNIONED later,
    * so incremental pipelines add a day's sketch without rescanning
    * history. Gate: per-type exact distinct (oracle-matched) + a
    * witness that the sketch estimate lands within 5% + 5; the 'ALL'
    * row estimates from the UNION OF THE PER-TYPE SKETCHES — proving
    * mergeability, not just the estimator.
    */
  def q95HllSketch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def ok(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      (abs(est.cast("double") - exact) <= exact * 0.05 + 5.0).as("est_ok")
    // both output branches (per-type rows + the union row) read this
    // 5-row frame: materialize it once so the 100 TB scan under it
    // runs once, not once per branch
    val perType = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).cast("long").as("n_exact"),
           hll_sketch_agg(col("user_id")).as("sk"))
      .localCheckpoint(true)
    val typed = perType.select(col("event_type").as("scope"), col("n_exact"),
      ok(hll_sketch_estimate(col("sk")), col("n_exact")))
    val g = perType.agg(hll_union_agg(col("sk")).as("sku"))
      .crossJoin(ev.agg(count_distinct(col("user_id")).cast("long").as("n_exact")))
      .select(lit("ALL").as("scope"), col("n_exact"),
        ok(hll_sketch_estimate(col("sku")), col("n_exact")))
    typed.unionByName(g)
  }

  val q95Sql: String =
    """SELECT event_type AS scope,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, TRUE AS est_ok
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), TRUE FROM events""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Stratified corpus subsampling: per-language quota sampling via
    * Bernoulli draws (`sampleBy`) — the standard rebalancing step before
    * training-data mixing. One scan, no shuffle before the count;
    * deterministic for a fixed seed + input layout. Rows-only gate
    * (the sampler's RNG stream is engine-specific); SamplingSpec
    * asserts quota adherence and determinism.
    */
  /** Per-language sampling quotas — shared with SamplingSpec so query
    * and spec can never drift. A lang absent from this map samples at
    * 0.0 (sampleBy drops unmapped strata entirely).
    */
  val q53Fractions: Map[String, Double] =
    Map("en" -> 0.5, "zh" -> 0.6, "es" -> 0.8, "de" -> 0.8, "fr" -> 1.0)

  def q53StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val fractions = q53Fractions
    val sampled = docs(s, d)
      .stat.sampleBy("lang", fractions, seed = 42L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"))
    val totals = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    // HASH-CHECKED witness: per-stratum totals (deterministic) plus a
    // boolean asserting the Bernoulli sample landed within 4 sigma + 3
    // of its quota — the sampler's RNG stream is engine-specific, its
    // quota adherence is not. DuckDB emits TRUE; a broken sampler
    // (wrong fraction, lost stratum) flips the boolean.
    // coalesce to 0.0: a lang outside the quota map means "sample
    // nothing" — the witness then only holds if the sampler really
    // dropped every row of that stratum (a NULL here would surface as
    // a confusing oracle hash mismatch instead of a clean FALSE).
    totals.join(sampled, Seq("lang"), "left")
      .withColumn("f", coalesce(element_at(typedlit(fractions), col("lang")), lit(0.0)))
      .select(col("lang"), col("n_total"),
        (abs(coalesce(col("n_sampled"), lit(0L)).cast("double") - col("f") * col("n_total"))
           <= lit(4.0) * sqrt(col("n_total") * col("f") * (lit(1.0) - col("f"))) + lit(3.0))
          .as("quota_ok"))
  }

  val q53Sql: String =
    "SELECT lang, count(*) AS n_total, TRUE AS quota_ok FROM documents GROUP BY lang"

  // ---------------------------------------------------------------- q65
  /** Byte-level payload analysis over the multimodal table: Shannon
    * entropy (milli-bits), distinct bytes, longest run — the
    * pre-codec corruption/dedup screen. HASH-CHECKED: the payloads are
    * `encode(text)` over pure-ASCII fixtures, so the oracle recomputes
    * the same statistics character-wise in SQL (histogram entropy, a
    * gaps-and-islands longest run); ExtSpec additionally pins exact
    * values on known non-ASCII payloads the oracle can't cover.
    */
  def q65PayloadStats(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Multimodal
    implicit val spark: SparkSession = s
    import s.implicits._
    Multimodal.payloadStats(
        Multimodal.mediaFromDocuments(docs(s, d)).as[Multimodal.MediaRecord])
      .toDF()
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n"),
           sum(col("entropy_mbits")).as("sum_entropy_mbits"),
           max(col("max_run")).as("max_run"),
           sum(col("n_distinct")).as("sum_distinct"))
  }

  val q65Sql: String =
    """WITH m AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |    text FROM documents),
      |  chars AS (SELECT doc_id, i, substring(text, CAST(i AS INT), 1) AS ch
      |            FROM (SELECT doc_id, text,
      |                    unnest(range(1, length(text) + 1)) AS i FROM m)),
      |  hist AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
      |  ent AS (SELECT doc_id,
      |      CAST(round(1000 * (-sum((c / n) * log2(c / n)))) AS BIGINT) AS entropy_mbits,
      |      CAST(count(*) AS BIGINT) AS n_distinct
      |    FROM (SELECT doc_id, ch, CAST(c AS DOUBLE) AS c,
      |            CAST(sum(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS n FROM hist)
      |    GROUP BY doc_id),
      |  runs AS (SELECT doc_id, max(rl) AS max_run FROM
      |      (SELECT doc_id, CAST(count(*) AS BIGINT) AS rl FROM
      |         (SELECT doc_id, ch,
      |            i - row_number() OVER (PARTITION BY doc_id, ch ORDER BY i) AS grp
      |          FROM chars)
      |       GROUP BY doc_id, ch, grp)
      |    GROUP BY doc_id)
      |SELECT modality, count(*) AS n,
      |  CAST(sum(entropy_mbits) AS BIGINT) AS sum_entropy_mbits,
      |  max(max_run) AS max_run,
      |  CAST(sum(n_distinct) AS BIGINT) AS sum_distinct
      |FROM m JOIN ent USING (doc_id) JOIN runs USING (doc_id)
      |GROUP BY modality""".stripMargin

  // ---------------------------------------------------------------- q108
  /** MERGEABLE frequency sketches (count-min) — the per-key-frequency
    * twin of q95's HLL distinct sketches: one CMS over user_id is
    * built DISTRIBUTED (count_min_sketch is an associative aggregate:
    * per-partition sketches merge by cell-wise add), collected as a
    * few-KB binary (metadata, not data), and answers per-key frequency
    * probes without the 100 TB per-key groupBy. Witness discipline for
    * an engine-specific estimate (SEMANTICS.md): the gate emits the
    * exact twin (oracle-matched) plus an in-band boolean holding the
    * CMS guarantees — est >= exact ALWAYS (hash collisions only ever
    * add), and est <= exact + 2*eps*N for the fixed seed (deterministic
    * for this data+seed; empirically verified at sf0.001/0.01/0.1).
    */
  def q108CmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val ev = Tables.events(s, d)
    val eps = 0.005
    val skRow = ev.agg(
      expr(s"count_min_sketch(user_id, ${eps}D, 0.99D, 42)").as("sk"),
      count(lit(1)).as("n")).first()
    val sketch = CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]]("sk")))
    val total = skRow.getAs[Long]("n")
    val probes = (0L to 20L).map(u => u -> sketch.estimateCount(Long.box(u))).toMap
    val estOf = typedlit(probes)
    ev.filter(col("user_id") <= 20)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_exact"))
      .withColumn("est", element_at(estOf, col("user_id")))
      .select(col("user_id"), col("n_exact"),
        (col("est") >= col("n_exact") &&
         col("est") <= col("n_exact") + lit(2.0 * eps * total)).as("est_ok"))
  }

  val q108Sql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact, TRUE AS est_ok
      |FROM events WHERE user_id <= 20 GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Per-label embedding centroids — the vector-aggregation primitive
    * behind class prototypes, k-means update steps, and SemDeDup-style
    * cluster summaries. Shape: ONE hash aggregate with 64 scalar
    * avg()s (map-side partial agg preserved), assembled into the
    * centroid array post-agg — never the explode-to-(row x dim) shape,
    * which would inflate a 100 TB fact 64x before the shuffle. The
    * DuckDB twin is free to take the lateral-unnest route; the
    * statistics are algorithm-independent.
    *
    * Float discipline: elements cast float->double BEFORE avg on both
    * engines; per-group mean of ~50 doubles is order-sensitive at
    * ~1e-15 — inside the harness's 9-decimal rounding.
    *
    * Gate shape: the GATE emits long format (label, n, dim_i, m) — all
    * scalar columns, sortable by any oracle harness (an ArrayType
    * output column crashed the driver's pandas sort in round 4). The
    * melt is a posexplode OVER THE AGGREGATE OUTPUT (num_labels rows,
    * metadata scale), not a pre-agg explode of the fact — PlanSpec
    * locks both the wide helper (zero Generate) and the gate's
    * Generate-above-HashAggregate ordering.
    */
  val CentroidDims = 64

  /** The scale-critical part: one 2-phase hash aggregate producing the
    * centroid as an array column. Library entry point for consumers
    * that want the vector; PlanSpec-locked to never explode the fact.
    */
  def labelCentroidsWide(s: SparkSession, d: String): DataFrame = {
    val means = (1 to CentroidDims).map(i =>
      avg(element_at(col("embedding"), i).cast("double")).as(s"m_$i"))
    emb(s, d).groupBy(col("label"))
      .agg(count(lit(1)).as("n"), means: _*)
      .select(col("label"), col("n"),
        array((1 to CentroidDims).map(i => col(s"m_$i")): _*).as("centroid"))
  }

  def q115LabelCentroids(s: SparkSession, d: String): DataFrame =
    labelCentroidsWide(s, d)
      .select(col("label"), col("n"), posexplode(col("centroid")))
      .select(col("label"), col("n"),
        (col("pos") + 1).cast("long").as("dim_i"), col("col").as("m"))

  val q115Sql: String =
    s"""WITH p AS (
       |  SELECT label, CAST(i AS BIGINT) AS dim_i,
       |         avg(CAST(embedding[i] AS DOUBLE)) AS m
       |  FROM embeddings, unnest(generate_series(1, $CentroidDims)) AS g(i)
       |  GROUP BY label, i),
       |c AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label)
       |SELECT p.label, c.n, p.dim_i, p.m FROM p JOIN c USING (label)""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Mergeable QUANTILE sketches — completes the sketch tier next to
    * q95 (HLL distinct) and q108 (count-min frequency). approx_percentile
    * is an associative aggregate (per-partition sketches merge), so the
    * estimate is computed distributed with no per-group sort of the
    * 100 TB fact. Witness discipline for an engine-specific estimate
    * (SEMANTICS.md): the gate emits the EXACT interpolated percentile
    * (oracle-matched vs DuckDB quantile_cont — same (1-g)*lo + g*hi
    * formula) plus an in-band boolean holding the sketch's rank
    * guarantee: |rank(est)/n - q| <= 1/accuracy + 2/n, verified by
    * re-scanning the fact once against the broadcast estimates.
    */
  def q116QuantileSketch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val accuracy = 1000
    val per = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("exacts"),
      expr(s"approx_percentile(value, array(0.5D, 0.9D, 0.99D), $accuracy)").as("ests"))
    val probes = per.select(col("event_type"), col("n"),
        posexplode(arrays_zip(col("exacts"), col("ests"))))
      .select(col("event_type"), col("n"),
        element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos") + 1).as("q"),
        col("col.exacts").as("pct_exact"), col("col.ests").as("est"))
    // the estimate's rank is the INTERVAL [count(<est), count(<=est)]:
    // with tied values the two endpoints differ, and the sketch is
    // correct iff the interval intersects the target band — checking
    // only the upper endpoint would flag a correct sketch whenever a
    // duplicated value straddles the probed quantile
    val band = lit(1.0 / accuracy) + lit(2.0) / col("n")
    ev.join(broadcast(probes), "event_type")
      .groupBy(col("event_type"), col("q"), col("n"), col("pct_exact"), col("est"))
      .agg(sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("rk_lo"),
           sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("rk_hi"))
      .select(col("event_type"), col("q"), col("n"), col("pct_exact"),
        (col("rk_lo").cast("double") / col("n") <= col("q") + band &&
         col("rk_hi").cast("double") / col("n") >= col("q") - band).as("est_ok"))
  }

  val q116Sql: String =
    Seq(0.5, 0.9, 0.99).map(q =>
      s"""SELECT event_type, $q AS q, CAST(count(*) AS BIGINT) AS n,
         |  quantile_cont(value, $q) AS pct_exact, TRUE AS est_ok
         |FROM events GROUP BY event_type""".stripMargin)
      .mkString("\nUNION ALL\n")

  // ---------------------------------------------------------------- q121
  /** Leakage-safe train/val/test split: the split key is the CONTENT
    * hash, not the document id, so exact duplicates land in the same
    * split by construction — the classic eval-contamination pitfall
    * (same text in train and test under different ids) is impossible,
    * not just unlikely. Deterministic md5 bucketing (q90's hash-gate
    * idiom): bucket = first 7 md5 hex digits mod 100 -> 80/10/10.
    * The witness column REQUIREs the invariant in-band: per split,
    * every content hash's copies are fully contained (no hash spans
    * two splits), which the oracle re-derives as TRUE.
    */
  def q121LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(conv(substring(md5(col("text").cast("binary")), 1, 7), 16, 10)
      .cast("long"), lit(100L))
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    val tagged = docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("split", split)
      .withColumn("content_hash", md5(col("text").cast("binary")))
    val spans = tagged.groupBy(col("content_hash"))
      .agg(countDistinct(col("split")).as("n_splits"))
    tagged.join(spans, "content_hash")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("content_hash")).as("n_contents"),
           max(col("n_splits")).as("max_span"))
      .select(col("split"), col("n_docs"), col("n_contents"),
        (col("max_span") === 1).as("leakage_free"))
  }

  val q121Sql: String =
    """WITH tagged AS (
      |  SELECT doc_id, md5(text) AS content_hash,
      |    CASE WHEN CAST(('0x' || substr(md5(text), 1, 7)) AS BIGINT) % 100 < 80 THEN 'train'
      |         WHEN CAST(('0x' || substr(md5(text), 1, 7)) AS BIGINT) % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |spans AS (SELECT content_hash, count(DISTINCT split) AS n_splits
      |          FROM tagged GROUP BY content_hash)
      |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT t.content_hash) AS BIGINT) AS n_contents,
      |  (max(n_splits) = 1) AS leakage_free
      |FROM tagged t JOIN spans USING (content_hash)
      |GROUP BY split""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Sample packing — chunk the curated corpus into fixed-token-budget
    * packs for pretraining batches: documents are laid out in a
    * deterministic order (doc_id) and assigned
    * pack_id = floor(tokens-before-me / budget); a document whose span
    * crosses the boundary STRADDLES two packs (recorded in-band), the
    * standard concat-then-slice pretraining layout rather than
    * first-fit bin packing. One distributed cumsum over the ordered
    * corpus, one hash aggregate per pack.
    *
    * Scale shape (round 9: the former single-task ORDER BY doc_id
    * window IS now the distributed form, not a documented swap): the
    * inclusive token prefix sum runs through
    * [[graft.ops.Rank.globalRunningSum]] — range-repartition on
    * doc_id, one per-partition token total collected (metadata), the
    * cumsum window PARTITIONED by partition id plus the broadcast
    * offset. No corpus-scale single-partition exchange anywhere;
    * semantics bit-identical to the global window (oracle unchanged).
    */
  def q122SamplePacking(s: SparkSession, d: String): DataFrame = {
    val budget = 2048L
    val laid = graft.ops.Rank.globalRunningSum(
        docs(s, d).select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok")),
        Seq(col("doc_id")), "n_tok", "cum_end")
      .withColumn("cum_start", col("cum_end") - col("n_tok"))
      .withColumn("pack_id", (col("cum_start") / budget).cast("long"))
      .withColumn("straddles",
        ((col("cum_end") - 1) / budget).cast("long") =!= col("pack_id"))
    laid.groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("pack_tokens"),
           sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddlers"))
  }

  val q122Sql: String =
    """WITH laid AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
      |    sum(len(string_split(text, ' '))) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
      |  FROM documents),
      |packs AS (
      |  SELECT doc_id, n_tok, cum_end - n_tok AS cum_start,
      |    (cum_end - n_tok) // 2048 AS pack_id,
      |    ((cum_end - 1) // 2048 <> (cum_end - n_tok) // 2048) AS straddles
      |  FROM laid)
      |SELECT CAST(pack_id AS BIGINT) AS pack_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
      |  CAST(sum(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
      |FROM packs GROUP BY pack_id""".stripMargin

  // ---------------------------------------------------------------- q125
  /** Overlapping document chunking (the RAG / context-window splitter):
    * windows of ChunkW tokens at stride ChunkS (overlap W-S), last
    * chunk clamped — pure per-row array expressions (slice clamps the
    * tail identically to DuckDB's l[a:b]), exploded to one row per
    * chunk. sequence(0, (n-1)/s) is ascending for every n >= 1, so no
    * short-doc hazard here.
    */
  val ChunkW = 32
  val ChunkS = 24

  def q125ChunkOverlap(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST((size(ts) - 1) / $ChunkS AS INT)),
           |  i -> struct(CAST(i AS BIGINT) AS chunk_id,
           |              slice(ts, i * $ChunkS + 1, $ChunkW) AS chunk))""".stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk_id"),
        size(col("c.chunk")).cast("long").as("chunk_tokens"),
        array_join(col("c.chunk"), " ").as("chunk_text"))

  val q125Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       |  CAST(len(ts[i * $ChunkS + 1 : i * $ChunkS + $ChunkW]) AS BIGINT) AS chunk_tokens,
       |  array_to_string(ts[i * $ChunkS + 1 : i * $ChunkS + $ChunkW], ' ') AS chunk_text
       |FROM t, unnest(generate_series(0, (len(ts) - 1) // $ChunkS)) AS g(i)""".stripMargin

  // ---------------------------------------------------------------- q126
  /** Embedding L2-normalization + matryoshka truncation metrics: the
    * full-vector norm, the first normalized component, and the
    * fraction of L2 mass in the first 16 dims (the quality signal for
    * truncating to a 16-dim matryoshka prefix). Per-row ordered folds
    * (functions.aggregate / list_sum both accumulate in element
    * order); results rounded to 6 decimals like every cosine gate.
    */
  def q126EmbeddingNormalize(s: SparkSession, d: String): DataFrame = {
    val sumsq = (n: Int) => expr(
      s"aggregate(slice(embedding, 1, $n), CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    emb(s, d).select(
      col("vec_id"),
      round(sqrt(sumsq(64)), 6).as("l2"),
      round(element_at(col("embedding"), 1).cast("double") / sqrt(sumsq(64)), 6).as("c1_norm"),
      round(sqrt(sumsq(16)) / sqrt(sumsq(64)), 6).as("mass16"))
  }

  val q126Sql: String = {
    def ss(n: Int) =
      s"list_sum(list_transform(embedding[1:$n], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    s"""SELECT vec_id, round(sqrt(${ss(64)}), 6) AS l2,
       |  round(CAST(embedding[1] AS DOUBLE) / sqrt(${ss(64)}), 6) AS c1_norm,
       |  round(sqrt(${ss(16)}) / sqrt(${ss(64)}), 6) AS mass16
       |FROM embeddings""".stripMargin
  }

  // ---------------------------------------------------------------- q127
  /** Salted skew join at the gate: events (hot 5-value event_type key —
    * the distribution that pins one reducer in a plain shuffle join)
    * joined to a per-type dim via [[graft.ops.Skew.saltedJoin]]: fact
    * rows scatter over 8 salts, the dim replicates 8 ways, the join
    * runs on (key, salt) — exactly the unsalted join's rows, which is
    * what the oracle computes. Broadcast is disabled on the dim via
    * hint-free replication, so the gate exercises the shuffle path the
    * mechanism exists for.
    */
  def q127SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val dim = ev.groupBy(col("event_type"))
      .agg(min(col("event_id")).as("first_event"))
    val joined = graft.ops.Skew.saltedJoin(
      ev.select(col("event_type"), col("value")), dim, "event_type", salt = 8)
    joined.groupBy(col("event_type"), col("first_event"))
      .agg(count(lit(1)).as("n"),
           sum(floor(col("value") * 1000).cast("long")).as("vchk"))
  }

  val q127Sql: String =
    """WITH dim AS (SELECT event_type, min(event_id) AS first_event
      |             FROM events GROUP BY event_type)
      |SELECT e.event_type, d.first_event, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS vchk
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY e.event_type, d.first_event""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Unicode NFC normalization at the gate: denormalized text is
    * synthesized from the customer table (combining-mark sequences
    * `e`+U+0301 and `i`+U+0308 that NFC folds to the composed é / ï),
    * run through the native NfcNormalize expression, and compared
    * byte-for-byte against DuckDB's nfc_normalize — both implement
    * UAX #15. octet_length before/after pins that composition actually
    * happened (raw is 2 bytes longer per combining pair than NFC).
    * This is the canonicalization step dedup fingerprints need:
    * without it, canonically-equal byte sequences from different
    * producers hash apart.
    */
  def q133UnicodeNormalize(s: SparkSession, d: String): DataFrame = {
    // DECOMPOSED combining sequences (e + U+0301, i + U+0308) -- the
    // form NFC must fold; a precomposed literal would test nothing
    val raw = concat(col("c_name"), lit(" café naïve"))
    Tables.customer(s, d)
      .select(col("c_custkey"), raw.as("raw"))
      .select(
        col("c_custkey"),
        octet_length(col("raw")).cast("long").as("raw_bytes"),
        graft.functions.NfcFunctions.nfcNormalize(col("raw")).as("nfc"))
      .withColumn("nfc_bytes", octet_length(col("nfc")).cast("long"))
  }

  val q133Sql: String =
    """WITH r AS (SELECT c_custkey,
      |  c_name || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw
      |  FROM customer)
      |SELECT c_custkey, CAST(strlen(raw) AS BIGINT) AS raw_bytes,
      |  nfc_normalize(raw) AS nfc,
      |  CAST(strlen(nfc_normalize(raw)) AS BIGINT) AS nfc_bytes
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- q131
  /** Robust statistics per event type: exact interpolated median, MAD
    * (median absolute deviation), and the |x - median| > 3*MAD outlier
    * count — the quality-monitoring tier that survives heavy tails
    * where mean/stddev (q73) do not. Two passes over the fact: one for
    * the median, one (with the 5-row medians broadcast back) for MAD +
    * outliers. Both engines interpolate (1-g)*lo + g*hi over identical
    * operands, so the gate is hash-exact.
    */
  def q131RobustStats(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D)").as("median"))
    // persist: dev feeds BOTH the mad aggregation and the outlier
    // count — without it the fact is rescanned per consumer
    // (CacheManager-tracked; the harness clearCache() reclaims it)
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("median")))
      .persist()
    val mad = dev.groupBy(col("event_type"), col("median"))
      .agg(expr("percentile(adev, 0.5D)").as("mad"), count(lit(1)).as("n"))
    dev.join(broadcast(mad.select(col("event_type"), col("mad"), col("n"))), "event_type")
      .groupBy(col("event_type"), col("median"), col("mad"), col("n"))
      .agg(sum(when(col("adev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"), col("median"), col("mad"), col("n_outliers"))
  }

  val q131Sql: String =
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS median
      |             FROM events GROUP BY event_type),
      |dev AS (SELECT e.event_type, med.median, abs(e.value - med.median) AS adev
      |        FROM events e JOIN med USING (event_type)),
      |mad AS (SELECT event_type, median, quantile_cont(adev, 0.5) AS mad,
      |          CAST(count(*) AS BIGINT) AS n
      |        FROM dev GROUP BY event_type, median)
      |SELECT d.event_type, mad.n, d.median, mad.mad,
      |  CAST(sum(CASE WHEN d.adev > mad.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad USING (event_type)
      |GROUP BY d.event_type, mad.n, d.median, mad.mad""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Referential-integrity audit — the data-quality sweep a warehouse
    * runs before publishing: per relationship, parent-key count,
    * child-row count, and ORPHANED child rows (left-anti join on the
    * parent key — never a full join materialization). The synthetic
    * star schema is clean, so the witness value is 0 — and the gate
    * proves the audit MECHANISM (an injected orphan shows up in
    * ExtSpec, not here).
    */
  /** One relationship's audit row: counts + left-anti orphan count. */
  def fkAudit(rel: String, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame = {
    val orphans = child.join(parent.select(col(pk).as(ck)), Seq(ck), "left_anti")
    child.agg(count(lit(1)).as("n_child")).crossJoin(
        parent.agg(count(lit(1)).as("n_parent")))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
      .select(lit(rel).as("relationship"), col("n_parent"), col("n_child"),
              col("n_orphans"))
  }

  def q132FkAudit(s: SparkSession, d: String): DataFrame =
    fkAudit("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
            Tables.orders(s, d), "o_orderkey")
      .unionByName(fkAudit("orders->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"))
      .unionByName(fkAudit("customer->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"))

  val q132Sql: String =
    """SELECT 'lineitem->orders' AS relationship,
      |  (SELECT count(*) FROM orders) AS n_parent,
      |  (SELECT count(*) FROM lineitem) AS n_child,
      |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      |UNION ALL
      |SELECT 'orders->customer',
      |  (SELECT count(*) FROM customer),
      |  (SELECT count(*) FROM orders),
      |  (SELECT count(*) FROM orders x WHERE NOT EXISTS
      |     (SELECT 1 FROM customer c WHERE c.c_custkey = x.o_custkey))
      |UNION ALL
      |SELECT 'customer->nation',
      |  (SELECT count(*) FROM nation),
      |  (SELECT count(*) FROM customer),
      |  (SELECT count(*) FROM customer x WHERE NOT EXISTS
      |     (SELECT 1 FROM nation n WHERE n.n_nationkey = x.c_nationkey))""".stripMargin

  // ---------------------------------------------------------------- q130
  /** Canonical-pick deduplication: within each near-dup cluster (q71's
    * connected components over MinHash-LSH pairs), KEEP the
    * highest-quality copy (q21's deterministic quality score, doc_id
    * breaking exact ties) instead of an arbitrary id — what a real
    * curation pipeline does, since the duplicates differ in cruft.
    * argmax is a max(struct(quality, -id)) aggregate (the IVF/LWW
    * packed-argmax discipline — never a window over the corpus).
    */
  def q130ClusterCanonical(s: SparkSession, d: String): DataFrame = {
    import TextAnalysis._
    val pairs = Dedup.minhashNearDups(docs(s, d), k = 12, bands = 4, threshold = 0.5)
    val comps = Dedup.contractiveComponents(pairs)
    val toks = tokens(col("text"))
    val quality = docs(s, d).select(col("doc_id"),
      qualityScore(size(toks), digitTokenCount(toks), countIn(toks, Stopwords)).as("q"))
    comps.join(quality, comps("id") === quality("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
           max(struct(col("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("n_docs"),
        (-col("best.nid")).as("keeper_doc_id"), col("best.q").as("keeper_quality"))
  }

  val q130Sql: String =
    s"""$ccCtePrefix,
       |  qual AS (SELECT doc_id, ${T.quality} AS q FROM documents),
       |  ranked AS (
       |    SELECT comp.cluster_id, qual.doc_id, qual.q,
       |      row_number() OVER (PARTITION BY comp.cluster_id
       |        ORDER BY qual.q DESC, qual.doc_id ASC) AS rn,
       |      count(*) OVER (PARTITION BY comp.cluster_id) AS n_docs
       |    FROM comp JOIN qual ON comp.id = qual.doc_id)
       |SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
       |  doc_id AS keeper_doc_id, q AS keeper_quality
       |FROM ranked WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Bounded top-k per group via the TopK Aggregator — top 3 events by
    * value per event_type, ids breaking exact ties. The window form
    * (q07's shape) shuffles and sorts EVERY row of each group; this
    * aggregate's buffer holds <= k pairs and merges associatively, so
    * the map side combines and the shuffle carries k rows per upstream
    * partition per group. The oracle is the window form — both orders
    * are (value DESC, id ASC), so results hash-match exactly.
    */
  def q128TopkAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val topk = udaf(graft.functions.TopK(3))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("event_id"), col("col._1").as("value"))
  }

  val q128Sql: String =
    """SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id ASC) AS rn
      |  FROM events)
      |WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Deterministic negative sampling — contrastive-pair generation
    * with NO RNG state (q90's hash-gate idiom): each document draws
    * k=3 partners via md5(doc_id # j) mod corpus-size over a dense
    * rank, bumping by one on self-collision, then the pair is labelled
    * is_true_negative = (content hashes differ) in-band — a duplicate
    * text drawn as a "negative" is a FALSE negative for contrastive
    * training and must be visible, not silently emitted. Everything is
    * recomputable by the oracle, so the gate is exact.
    *
    * Scale shape (round 9: the dense rank now RUNS the distributed
    * form, not a documented swap): [[graft.ops.Rank.globalRowNumber]]
    * — range-repartition + per-partition row_number + broadcast
    * offsets, no single-task window; partner resolution is an
    * equi-join on the computed rank. Oracle unchanged.
    */
  def q123NegativeSampling(s: SparkSession, d: String): DataFrame = {
    val k = 3
    // corpus size arrives FREE with the rank pass (one long per
    // partition is already collected to build the offsets — round 14);
    // the previous separate count aggregate + broadcast crossJoin was
    // a whole redundant job on the fixed-floor path
    val (ranked0, nRows) = graft.ops.Rank.globalRowNumberWithTotal(
        docs(s, d).select(col("doc_id"),
          md5(col("text").cast("binary")).as("content_hash")),
        Seq(col("doc_id")), "rn")
    val ranked = ranked0.withColumn("rnk", col("rn") - 1).drop("rn")
    val n = lit(nRows)
    val draws = ranked
      .select(col("doc_id"), col("content_hash"), col("rnk"),
        explode(array((0 until k).map(lit): _*)).as("j"))
      .withColumn("h", pmod(conv(substring(
        md5(concat(col("doc_id").cast("string"), lit("#"), col("j").cast("string"))),
        1, 7), 16, 10).cast("long"), n))
      .withColumn("cand", when(col("h") === col("rnk"),
        pmod(col("h") + 1, n)).otherwise(col("h")))
    val partners = ranked.select(col("rnk").as("cand"),
      col("doc_id").as("neg_doc_id"), col("content_hash").as("neg_hash"))
    draws.join(partners, "cand")
      .select(col("doc_id"), col("j").cast("long").as("j"), col("neg_doc_id"),
        (col("content_hash") =!= col("neg_hash")).as("is_true_negative"))
  }

  val q123Sql: String =
    """WITH ranked AS (
      |  SELECT doc_id, md5(text) AS content_hash,
      |    row_number() OVER (ORDER BY doc_id) - 1 AS rnk
      |  FROM documents),
      |n AS (SELECT count(*) AS n FROM ranked),
      |draws AS (
      |  SELECT doc_id, content_hash, rnk, n.n, j,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 7)) AS BIGINT) % n.n AS h
      |  FROM ranked CROSS JOIN n, unnest([0, 1, 2]) AS g(j)),
      |fixed AS (
      |  SELECT doc_id, content_hash,
      |    CAST(j AS BIGINT) AS j,
      |    CASE WHEN h = rnk THEN (h + 1) % n ELSE h END AS cand
      |  FROM draws)
      |SELECT f.doc_id, f.j, r.doc_id AS neg_doc_id,
      |  (f.content_hash <> r.content_hash) AS is_true_negative
      |FROM fixed f JOIN ranked r ON f.cand = r.rnk""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Entity-resolution fuzzy join with BLOCKING — the record-linkage
    * operator: probe strings (deterministic interior-char drops of the
    * part-name catalog) are matched back against the catalog at edit
    * distance <= 1. Candidates come from an EQUI-join on a blocking
    * key (first char) plus a length-band filter — never an all-pairs
    * cross join; the expensive levenshtein verify runs on candidates
    * only. At 100 TB the blocking key is what bounds the join (first
    * char + length band here; phonetic keys or q26's LSH bands for
    * real-world names — same plan shape either way, PlanSpec-locked).
    * levenshtein has identical unit-cost semantics in Spark and DuckDB,
    * so the gate is hash-checked end to end.
    */
  def q120FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d).select(col("p_name")).distinct()
    val dropAt = (length(col("p_name")) / 2).cast("int")
    val probes = names.select(concat(
      substring(col("p_name"), lit(1), dropAt - 1),
      col("p_name").substr(dropAt + 1, length(col("p_name")))).as("probe"))
    val cand = probes.withColumn("bk", substring(col("probe"), 1, 1))
      .join(names.withColumn("bk", substring(col("p_name"), 1, 1)), "bk")
      .filter(abs(length(col("probe")) - length(col("p_name"))) <= 1)
    cand.withColumn("dist", levenshtein(col("probe"), col("p_name")))
      .filter(col("dist") <= 1)
      .select(col("probe"), col("p_name").as("matched"), col("dist").cast("long").as("dist"))
  }

  val q120Sql: String =
    """WITH names AS (SELECT DISTINCT p_name FROM part),
      |probes AS (SELECT substr(p_name, 1, CAST(length(p_name) // 2 AS INT) - 1) ||
      |                  substr(p_name, CAST(length(p_name) // 2 AS INT) + 1) AS probe
      |           FROM names)
      |SELECT probe, n.p_name AS matched,
      |  CAST(levenshtein(probe, n.p_name) AS BIGINT) AS dist
      |FROM probes p JOIN names n ON substr(p.probe, 1, 1) = substr(n.p_name, 1, 1)
      |WHERE abs(length(p.probe) - length(n.p_name)) <= 1
      |  AND levenshtein(probe, n.p_name) <= 1""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Distributed BPE merge training — learn the first `BpeRounds`
    * byte-pair-encoding merges over the corpus, word-pair level: each
    * round counts adjacent token pairs corpus-wide (explode + 2-phase
    * hash agg), picks argmax with (count DESC, pair ASC) tie-break, and
    * rewrites the corpus joining the winning pair with '_'.
    *
    * The rewrite uses literal left-to-right non-overlapping replace on
    * a double-space-padded form (' a  b ' -> ' a_b '): doubling gives
    * every token its own separators so CONSECUTIVE occurrences all
    * merge, while OVERLAPPING ones ('a a a' merging (a,a)) merge
    * greedily left-to-right — standard BPE semantics, and bit-identical
    * in DuckDB, whose replace() scans the same way.
    *
    * Scale shape: each round is one corpus scan for the pair count
    * (map-side combine), one 1-row argmax collected as metadata (the
    * k-means-centroid precedent), one rewrite scan. Rounds are
    * localCheckpointed via Lineage so the plan stays O(1) deep and
    * superseded rounds' blocks are freed deterministically.
    */
  val BpeRounds = 8

  def q118BpeMerges(s: SparkSession, d: String): DataFrame =
    bpeMerges(docs(s, d), BpeRounds)

  /** The q118 training loop over any (doc_id, text) frame. */
  def bpeMerges(in: DataFrame, rounds: Int): DataFrame = {
    import graft.ext.Lineage
    val s = in.sparkSession
    var corpus = in.select(col("doc_id"), col("text"))
    var free: () => Unit = () => ()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // LAZY checkpoint: the round's argmax first() below is the
      // frame's first action and materializes it as a side effect —
      // one job per round instead of checkpoint + argmax (round 15);
      // the rewrite then reads the materialized blocks. Lineage is
      // truncated identically, so round plans stay O(1) deep. The
      // PREVIOUS round's blocks are freed only after the argmax has
      // materialized this round's frame (its plan reads them).
      val (ck, f) = Lineage.checkpointLazy(corpus)
      val best = ck
        .select(explode(expr(
          """zip_with(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),
            |         slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),
            |         (x, y) -> struct(x AS a, y AS b))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(count(lit(1)).as("c"))
        .agg(min(struct((-col("c")).as("nc"), col("a"), col("b"))).as("m"))
        .select(col("m.a"), col("m.b"), (-col("m.nc")).as("c"))
        .first()
      free(); free = f // superseded only now — ck is materialized
      if (best.isNullAt(0)) {
        exhausted = true // every doc is a single token: no pairs left
      } else {
        val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((r, a, b, c))
        // merge pair carried as lit() VALUES, never spliced into parsed
        // SQL — corpus tokens may contain quote/backslash characters
        val doubled = concat(lit(" "),
          expr("replace(text, ' ', '  ')"), lit(" "))
        val merged = expr("replace(padded, pat, rep)")
        corpus = ck
          .withColumn("padded", doubled)
          .withColumn("pat", lit(s" $a  $b "))
          .withColumn("rep", lit(s" ${a}_$b "))
          .withColumn("text",
            array_join(filter(split(merged, " "), x => x =!= ""), " "))
          .select(col("doc_id"), col("text"))
        r += 1
      }
    }
    free()
    import s.implicits._
    merges.result().toDF("rank", "pair_a", "pair_b", "cnt")
  }

  val q118Sql: String = {
    def pairCtes(i: Int): String =
      s"""p$i AS (SELECT ts[i] AS a, ts[i+1] AS b, count(*) AS c
         |  FROM (SELECT string_split(text, ' ') AS ts FROM t${i - 1}),
         |       unnest(generate_series(1, len(ts) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a ASC, b ASC LIMIT 1)""".stripMargin
    def applyCte(i: Int): String =
      s"""t$i AS (SELECT doc_id,
         |  array_to_string(list_filter(string_split(
         |    replace(' ' || replace(t${i - 1}.text, ' ', '  ') || ' ',
         |            ' ' || b$i.a || '  ' || b$i.b || ' ',
         |            ' ' || b$i.a || '_' || b$i.b || ' '), ' '), x -> x <> ''), ' ') AS text
         |  FROM t${i - 1}, b$i)""".stripMargin
    val ctes = (1 to BpeRounds).map { i =>
      if (i < BpeRounds) s"${pairCtes(i)},\n${applyCte(i)}" else pairCtes(i)
    }.mkString(",\n")
    val sel = (1 to BpeRounds).map(i =>
      s"SELECT $i AS rank, a AS pair_a, b AS pair_b, CAST(c AS BIGINT) AS cnt FROM b$i")
      .mkString("\nUNION ALL\n")
    s"WITH t0 AS (SELECT doc_id, text FROM documents),\n$ctes\n$sel"
  }

  // ---------------------------------------------------------------- q137
  /** BPE TOKENIZATION (train/apply split) — the deployment shape of
    * q118: merges are TRAINED on a sample (doc_id < 100, the expensive
    * iterative part runs on a bounded subset), then APPLIED to the
    * whole corpus as driver-side literal metadata — 8 chained
    * replace() rewrites folded into ONE linear plan: no join, no
    * shuffle, no iteration state; the entire tokenization of a 100 TB
    * corpus is a single embarrassingly-parallel scan inside one
    * codegen span (PlanSpec-locked). Rewrite semantics are exactly
    * q118's double-space-padded greedy left-to-right replace, so the
    * oracle replays the training chain CTE-for-CTE on the sample and
    * the apply chain on the corpus. Gate emits per-doc token counts
    * before/after — a wrong merge order, a non-greedy rewrite, or a
    * train/apply divergence all shift counts and fail the hash.
    */
  def q137BpeTokenize(s: SparkSession, d: String): DataFrame = {
    val trained = bpeMerges(docs(s, d).filter(col("doc_id") < 100), BpeRounds)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val base = docs(s, d).select(col("doc_id"), col("text"),
      size(split(col("text"), " ")).cast("long").as("n_tokens_before"))
    bpeApply(base, trained)
      .select(col("doc_id"), col("n_tokens_before"),
        size(split(col("text"), " ")).cast("long").as("n_tokens_after"))
  }

  /** Apply trained BPE merges (rank order) to the `text` column of any
    * frame, preserving other columns. Merges ride as column LITERALS
    * (never spliced into parsed SQL — tokens may contain quotes), so
    * the fold builds one linear whole-stage-codegen plan: 8 merges =
    * 8 chained string rewrites in a single scan, zero exchanges.
    */
  def bpeApply(in: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(in) { case (df, (a, b)) =>
      val doubled = concat(lit(" "),
        org.apache.spark.sql.functions.replace(col("text"), lit(" "), lit("  ")), lit(" "))
      val merged = org.apache.spark.sql.functions.replace(
        doubled, lit(s" $a  $b "), lit(s" ${a}_$b "))
      df.withColumn("text",
        array_join(filter(split(merged, " "), x => x =!= ""), " "))
    }

  val q137Sql: String = {
    // training chain on the sample (s0..s7, winners b1..b8) + apply
    // chain on the corpus (d0..d8) — rewrite text identical to q118Sql
    def rewrite(src: String, bi: String): String =
      s"""array_to_string(list_filter(string_split(
         |    replace(' ' || replace($src.text, ' ', '  ') || ' ',
         |            ' ' || $bi.a || '  ' || $bi.b || ' ',
         |            ' ' || $bi.a || '_' || $bi.b || ' '), ' '), x -> x <> ''), ' ')""".stripMargin
    def pairCtes(i: Int): String =
      s"""p$i AS (SELECT ts[i] AS a, ts[i+1] AS b, count(*) AS c
         |  FROM (SELECT string_split(text, ' ') AS ts FROM s${i - 1}),
         |       unnest(generate_series(1, len(ts) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a ASC, b ASC LIMIT 1)""".stripMargin
    def trainApply(i: Int): String =
      s"s$i AS (SELECT doc_id, ${rewrite(s"s${i - 1}", s"b$i")} AS text FROM s${i - 1}, b$i)"
    def corpusApply(i: Int): String =
      s"d$i AS (SELECT doc_id, ${rewrite(s"d${i - 1}", s"b$i")} AS text FROM d${i - 1}, b$i)"
    val ctes = (1 to BpeRounds).map { i =>
      val train = if (i < BpeRounds) s"${pairCtes(i)},\n${trainApply(i)}" else pairCtes(i)
      s"$train,\n${corpusApply(i)}"
    }.mkString(",\n")
    s"""WITH s0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
       |d0 AS (SELECT doc_id, text FROM documents),
       |$ctes
       |SELECT d0.doc_id,
       |  CAST(len(string_split(d0.text, ' ')) AS BIGINT) AS n_tokens_before,
       |  CAST(len(string_split(d$BpeRounds.text, ' ')) AS BIGINT) AS n_tokens_after
       |FROM d0 JOIN d$BpeRounds USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- q112
  /** Bigram language-model quality scoring (the CCNet-style perplexity
    * filter, log-free): train add-one-smoothed bigram MLE counts over
    * the corpus, then score each document by its mean bigram
    * probability avg((c_bigram + 1) / (c_prefix + |V|)).
    *
    * Scale shape: the corpus is scanned exactly TWICE — once to build
    * the bigram-count model, once for the scoring fact. Prefix counts
    * and vocab size derive from the bigram counts themselves
    * (vocabulary-scale inputs). |V| is DEFINED as the distinct tokens
    * of the bigram model on BOTH engines (the oracle twin derives vsz
    * from bgc too): a token appearing only in 1-token documents is by
    * this definition out-of-vocabulary, so the two engines agree for
    * any corpus, not just one where every doc has >=2 tokens. All
    * model sides broadcast — the fact is shuffled once, for the final
    * per-doc aggregate. On an open-vocabulary web corpus the model
    * joins degrade gracefully to shuffle joins by dropping the
    * broadcast hints; semantics are unchanged.
    *
    * Numerics: probabilities are quotients of integer counts (exact
    * IEEE division, identical cross-engine); only the per-doc mean is
    * order-sensitive, at ~1e-15 absolute — far inside the compare
    * harness's 9-decimal rounding.
    */
  def q112BigramLm(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
    // slice/zip_with, not sequence(1, n-1): Spark's sequence DESCENDS
    // when stop < start, so a 1-token doc would evaluate
    // element_at(ts, 0) and throw under ANSI; slices are empty-safe
    val pairs = t.select(col("doc_id"), explode(expr(
      """zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
        |         slice(ts, 2, greatest(size(ts) - 1, 0)),
        |         (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"))
    // ONE corpus-scale aggregation; everything below reads only bgc.
    // persist (not localCheckpoint): CacheManager-tracked, so the
    // Bench/Verify per-query clearCache() reclaims it — checkpoint
    // blocks on an escaping frame would strand until driver GC
    val bgc = pairs.groupBy(col("bg")).agg(count(lit(1)).as("c_bg")).persist()
    val pfc = bgc.groupBy(split(col("bg"), " ").getItem(0).as("pfx"))
      .agg(sum(col("c_bg")).as("c_pfx"))
    val v = bgc.select(explode(split(col("bg"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("vsz"))
    pairs
      .join(broadcast(bgc), "bg")
      .withColumn("pfx", split(col("bg"), " ").getItem(0))
      .join(broadcast(pfc), "pfx")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           avg((col("c_bg") + lit(1.0)) / (col("c_pfx") + col("vsz"))).as("avg_p"))
  }

  val q112Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |pairs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
      |            i -> ts[i] || ' ' || ts[i+1])) AS bg FROM t),
      |bgc AS (SELECT bg, count(*) AS c_bg FROM pairs GROUP BY bg),
      |pfc AS (SELECT string_split(bg, ' ')[1] AS pfx, count(*) AS c_pfx FROM pairs GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS vsz FROM
      |        (SELECT unnest(string_split(bg, ' ')) AS tok FROM bgc))
      |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  avg((c_bg + 1.0) / (c_pfx + vsz)) AS avg_p
      |FROM pairs p JOIN bgc USING (bg)
      |  JOIN pfc ON string_split(p.bg, ' ')[1] = pfc.pfx
      |  CROSS JOIN v
      |GROUP BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Gopher/MassiveText-style repetition quality rules, token-based:
    * duplicate-unigram fraction (1 - distinct/total), top-bigram
    * fraction (occurrences of the most frequent bigram x2 / n_tokens),
    * and duplicated-trigram fraction (occurrences of trigrams that
    * appear more than once, x3 / n_tokens; occurrence-weighted, so
    * overlap can push it past 1 — documented, deterministic).
    *
    * Scale shape: every metric is a pure per-row array expression over
    * a bounded document (no explode, no join, no shuffle — the plan is
    * a single WholeStageCodegen map over the scan, PlanSpec-locked).
    * Multiplicities come from a sort + single-run-scan (O(n log n) per
    * row), not a nested per-distinct-gram filter (O(distinct x n) —
    * measured 3x slower at sf0.1); for multi-MB documents the same
    * metrics would move to the explode+count shape of q112's fact
    * table. The DuckDB twin keeps the direct per-distinct-gram count —
    * both compute the same multiset statistics, which is the point of
    * an algorithm-independent oracle.
    */
  def q113RepetitionRules(s: SparkSession, d: String): DataFrame =
    repetitionMetrics(docs(s, d))

  /** The q113 metric projection over any (doc_id, text) frame. */
  def repetitionMetrics(in: DataFrame): DataFrame = {
    // slice/zip_with, not sequence(1, n-k): Spark's sequence DESCENDS
    // when stop < start, so 1- and 2-token docs would evaluate
    // element_at out of range and throw under ANSI while the DuckDB
    // twin (empty generate_series) returns a row; slices are empty-safe
    // on both engines
    val g = in.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
      .withColumn("bgs", expr(
        """zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |         slice(ts, 2, greatest(size(ts) - 1, 0)),
          |         (x, y) -> concat(x, ' ', y))""".stripMargin))
      .withColumn("tgs", expr(
        """zip_with(slice(bgs, 1, greatest(size(ts) - 2, 0)),
          |         slice(ts, 3, greatest(size(ts) - 2, 0)),
          |         (x, y) -> concat(x, ' ', y))""".stripMargin))
    g.select(
        col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("ts"))).cast("double") / size(col("ts")))
          .as("dup_unigram_frac"),
        // longest equal-run over the sorted grams = max multiplicity
        (expr("""aggregate(array_sort(bgs),
                   named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
                   (st, x) -> named_struct(
                     'prev', x,
                     'run', IF(x = st.prev, st.run + 1, 1),
                     'best', GREATEST(st.best, IF(x = st.prev, st.run + 1, 1))),
                   st -> st.best)""")
          .cast("double") * 2.0 / size(col("ts"))).as("top_bigram_frac"),
        // occurrences in duplicated trigrams = n - values-occurring-once
        (expr("""size(tgs) - aggregate(array_sort(tgs),
                   named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'singles', 0),
                   (st, x) -> named_struct(
                     'prev', x,
                     'run', IF(x = st.prev, st.run + 1, 1),
                     'singles', st.singles + IF(st.prev IS NOT NULL AND x <> st.prev AND st.run = 1, 1, 0)),
                   st -> st.singles + IF(st.run = 1, 1, 0))""")
          .cast("double") * 3.0 / size(col("ts"))).as("dup_trigram_frac"))
      .withColumn("keep",
        col("dup_unigram_frac") <= 0.7 && col("top_bigram_frac") <= 0.2 &&
          col("dup_trigram_frac") <= 0.6)
  }

  val q113Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |g AS (SELECT doc_id, ts,
      |  list_transform(generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1]) AS bgs,
      |  list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS tgs
      |FROM t),
      |m AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |  1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS dup_unigram_frac,
      |  CAST(coalesce(list_max(list_transform(list_distinct(bgs),
      |        g1 -> len(list_filter(bgs, x -> x = g1)))), 0) AS DOUBLE)
      |    * 2.0 / len(ts) AS top_bigram_frac,
      |  CAST(coalesce(list_sum(list_transform(list_distinct(tgs),
      |        g1 -> CASE WHEN len(list_filter(tgs, x -> x = g1)) > 1
      |                   THEN len(list_filter(tgs, x -> x = g1)) ELSE 0 END)), 0) AS DOUBLE)
      |    * 3.0 / len(ts) AS dup_trigram_frac
      |FROM g)
      |SELECT doc_id, n_tokens, dup_unigram_frac, top_bigram_frac, dup_trigram_frac,
      |  (dup_unigram_frac <= 0.7 AND top_bigram_frac <= 0.2 AND dup_trigram_frac <= 0.6) AS keep
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q114
  /** PII detection + redaction — the compliance pass every training
    * corpus runs before release. The contact text is derived
    * deterministically from the customer table (name-based email,
    * custkey-derived IPv4 and phone), then the operator counts and
    * redacts emails, IPv4s, and phone numbers with pure regexp
    * expressions (codegen'd, per-row, zero shuffle). Patterns stay in
    * the Java-regex/RE2 common subset so the DuckDB twin is
    * bit-identical; DuckDB's regexp_replace needs the explicit 'g'
    * flag to match Spark's replace-all.
    */
  private val EmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val Ipv4Re = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  private val PhoneRe = "\\d{3}-\\d{4}"

  def q114PiiRedact(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    val contact = concat(
      col("c_name"), lit(" email "),
      lower(regexp_replace(col("c_name"), "[^a-zA-Z0-9]", "")), lit("@example.com ip "),
      (k % 223 + 1).cast("string"), lit("."), (k * 7 % 256).cast("string"), lit("."),
      (k * 13 % 256).cast("string"), lit("."), (k * 31 % 256).cast("string"),
      lit(" phone "), lpad((k % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((k * 17 % 10000).cast("string"), 4, "0"))
    Tables.customer(s, d)
      .select(col("c_custkey"), contact.as("contact"))
      .select(
        col("c_custkey"),
        size(regexp_extract_all(col("contact"), lit(EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("contact"), lit(Ipv4Re), lit(0))).cast("long").as("n_ip"),
        size(regexp_extract_all(col("contact"), lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
        regexp_replace(regexp_replace(regexp_replace(col("contact"),
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>").as("redacted"))
  }

  val q114Sql: String =
    s"""WITH c AS (SELECT c_custkey,
       |  c_name || ' email ' || lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g'))
       |    || '@example.com ip '
       |    || CAST(c_custkey % 223 + 1 AS VARCHAR) || '.' || CAST(c_custkey * 7 % 256 AS VARCHAR)
       |    || '.' || CAST(c_custkey * 13 % 256 AS VARCHAR) || '.' || CAST(c_custkey * 31 % 256 AS VARCHAR)
       |    || ' phone ' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
       |    || lpad(CAST(c_custkey * 17 % 10000 AS VARCHAR), 4, '0') AS contact
       |  FROM customer)
       |SELECT c_custkey,
       |  CAST(len(regexp_extract_all(contact, '$EmailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(contact, '$Ipv4Re')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(contact, '$PhoneRe')) AS BIGINT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(contact,
       |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'), '$PhoneRe', '<PHONE>', 'g') AS redacted
       |FROM c""".stripMargin

  // ---------------------------------------------------------------- q189
  /** HARD-NEGATIVE MINING for contrastive training: for each anchor
    * vector, the top-3 most-similar vectors carrying a DIFFERENT
    * label — the "hard" negatives that actually move a contrastive
    * loss (random negatives are trivially separable). Gate runs the
    * exact path (broadcast anchors x corpus scan, q30's shape, with
    * the label-mismatch predicate fused into the scan filter); at
    * 100 TB the IVF route (q75) answers the same query per-cell —
    * mine within the anchor's nearest cells only — since a hard
    * negative is by definition near the anchor. Ranking discipline:
    * round-6 cosine, ties by candidate id (q30's determinism rule).
    */
  def q189HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("label").as("clabel"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid") && col("clabel") =!= col("qlabel"))
      .withColumn("cos6",
        round(VectorFunctions.cosineSim(col("qe"), col("ce")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos6").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"),
        col("clabel").cast("long").as("neg_label"), col("cos6"))
  }

  val q189Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
       |    FROM embeddings WHERE vec_id < 20),
       |  c AS (SELECT vec_id AS cid, embedding AS ce, label AS clabel
       |    FROM embeddings),
       |  sc AS (SELECT qid, cid, clabel, round($cosQC, 6) AS cos6
       |    FROM q, c WHERE cid <> qid AND clabel <> qlabel)
       |SELECT qid, rank, cid, CAST(clabel AS BIGINT) AS neg_label, cos6 FROM
       |  (SELECT qid, cid, clabel, cos6, row_number() OVER
       |     (PARTITION BY qid ORDER BY cos6 DESC, cid) AS rank FROM sc)
       |WHERE rank <= 3""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q189_hard_negatives" -> (q189HardNegatives _, q189Sql),
    "q65_payload_stats" -> (q65PayloadStats _, q65Sql),
    "q53_stratified_sample" -> (q53StratifiedSample _, q53Sql),
    "q21_text_stats" -> (q21TextStats _, q21Sql),
    "q22_lang_id" -> (q22LangId _, q22Sql),
    "q23_fingerprint" -> (q23Fingerprint _, q23Sql),
    "q24_dedup_exact" -> (q24DedupExact _, q24Sql),
    "q25_minhash_sig" -> (q25MinhashSig _, q25Sql),
    "q26_lsh_neardup" -> (q26LshNearDup _, q26Sql),
    "q71_dedup_clusters" -> (q71DedupClusters _, q71Sql),
    "q72_tfidf" -> (q72Tfidf _, q72Sql),
    "q81_bm25" -> (q81Bm25 _, q81Sql),
    "q27_ngram_jaccard" -> (q27NgramJaccard _, q27Sql),
    "q28_simhash_sig" -> (q28SimhashSig _, q28Sql),
    "q29_simhash_pairs" -> (q29SimhashPairs _, q29Sql),
    "q30_knn_brute" -> (q30KnnBrute _, q30Sql),
    "q31_ann_lsh" -> (q31AnnLsh _, q31Sql),
    "q32_embedding_neardup" -> (q32EmbeddingNearDup _, q32Sql),
    "q99_embedding_neardup_lsh" -> (q99EmbeddingNearDupLsh _, q32Sql),
    "q33_multimodal_meta" -> (q33MultimodalMeta _, q33Sql),
    "q85_codec_decode" -> (q85CodecDecode _, q85Sql),
    "q100_codec_headers" -> (q100CodecHeaders _, q100Sql),
    "q101_boilerplate_strip" -> (q101BoilerplateStrip _, q101Sql),
    "q86_contamination" -> (q86Contamination _, q86Sql),
    "q288_decontam_span_excise" -> (q288DecontamSpanExcise _, q288Sql),
    "q90_mixture_sample" -> (q90MixtureSample _, q90Sql),
    "q95_hll_sketch" -> (q95HllSketch _, q95Sql),
    "q108_cms_heavy_hitters" -> (q108CmsHeavyHitters _, q108Sql),
    "q91_curation_funnel" -> (q91CurationFunnel _, q91Sql),
    "q112_bigram_lm" -> (q112BigramLm _, q112Sql),
    "q113_repetition_rules" -> (q113RepetitionRules _, q113Sql),
    "q114_pii_redact" -> (q114PiiRedact _, q114Sql),
    "q115_label_centroids" -> (q115LabelCentroids _, q115Sql),
    "q116_quantile_sketch" -> (q116QuantileSketch _, q116Sql),
    "q118_bpe_merges" -> (q118BpeMerges _, q118Sql),
    "q120_fuzzy_join" -> (q120FuzzyJoin _, q120Sql),
    "q121_leakage_safe_split" -> (q121LeakageSafeSplit _, q121Sql),
    "q122_sample_packing" -> (q122SamplePacking _, q122Sql),
    "q123_negative_sampling" -> (q123NegativeSampling _, q123Sql),
    "q124_media_resample" -> (q124MediaResample _, q124Sql),
    "q125_chunk_overlap" -> (q125ChunkOverlap _, q125Sql),
    "q126_embedding_normalize" -> (q126EmbeddingNormalize _, q126Sql),
    "q127_salted_join" -> (q127SaltedJoin _, q127Sql),
    "q128_topk_agg" -> (q128TopkAgg _, q128Sql),
    "q130_cluster_canonical" -> (q130ClusterCanonical _, q130Sql),
    "q131_robust_stats" -> (q131RobustStats _, q131Sql),
    "q132_fk_audit" -> (q132FkAudit _, q132Sql),
    "q133_unicode_normalize" -> (q133UnicodeNormalize _, q133Sql),
    "q136_jpeg_decode" -> (q136JpegDecode _, q136Sql),
    "q137_bpe_tokenize" -> (q137BpeTokenize _, q137Sql),
    "q138_audio_features" -> (q138AudioFeatures _, q138Sql),
  )
}
