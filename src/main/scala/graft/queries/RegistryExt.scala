package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFns, TimeFns, VectorFns}
import graft.operators.{Dedup, Multimodal, Relational, Similarity}
import graft.pipeline.{Hits, JurimetriaPipeline, PipelineConfig}

/** Training-data-pipeline extensions (dedup / similarity / text /
  * multimodal) and the reference's end-to-end pipeline, as oracle-checked
  * queries. See [[Registry]] for the determinism rules.
  *
  * DuckDB-side folds are written as explicit left folds
  * (`list_reduce(list_prepend(...))`) to bit-match Spark's `aggregate`. */
object RegistryExt {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** DuckDB left-fold dot product of two FLOAT[64] list columns. */
  private[queries] def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)""".stripMargin

  private[queries] def sqlCos(a: String, b: String): String =
    s"""(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"""

  // --------------------------------------------------------------- dedup

  /** Exact dedup: group by content hash, keep smallest id. One shuffle on
    * a 32-byte digest — never on the document text. */
  val dedupExact = Q("dedup_exact",
    """SELECT md5(text) AS h, COUNT(*) AS cnt, MIN(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin) { (s, d) =>
    Dedup.exactGroups(docs(s, d), "doc_id", "text").orderBy("h")
  }

  /** Exact dedup APPLIED: the surviving rows themselves (smallest doc_id
    * per distinct text) — [[Dedup.dedupKeepFirst]]; dedup_exact above is
    * the audit view of the same groups. */
  val dedupSurvivors = Q("dedup_survivors",
    """SELECT doc_id, lang, n_chars FROM (
      |  SELECT doc_id, lang, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.dedupKeepFirst(docs(s, d), "doc_id", "text")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** MinHash+LSH candidate pairs (8 hashes as 4 slices × 2 salted
    * digests, 4 bands × 2 rows). */
  val dedupMinhash = Q("dedup_minhash_lsh",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
      |sh AS (SELECT doc_id, list_transform(range(1, len(wl) - 1),
      |  i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]) AS shl FROM w),
      |sig AS (SELECT doc_id, list_transform(range(0, 8),
      |  j -> list_min(list_transform(shl,
      |    x -> substr(md5(CAST(j // 4 AS VARCHAR) || ':' || x),
      |                CAST((j % 4) * 8 + 1 AS INT), 8)))) AS mh
      |  FROM sh),
      |bands AS (SELECT doc_id, t.bnd, md5(mh[2*t.bnd+1] || mh[2*t.bnd+2]) AS bk
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS bnd) t)
      |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |FROM bands a JOIN bands b ON a.bnd = b.bnd AND a.bk = b.bk
      |  AND a.doc_id < b.doc_id
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    Dedup.minhashCandidates(docs(s, d), "doc_id", "text")
      .orderBy("a_id", "b_id")
  }

  /** SimHash signatures (16-bit, md5-digit majority vote). */
  val dedupSimhash = Q("dedup_simhash",
    """SELECT doc_id, array_to_string(list_transform(range(1, 17),
      |  p -> CASE WHEN 2 * len(list_filter(string_split(text, ' '),
      |      x -> substr(md5(x), p, 1) >= '8')) > len(string_split(text, ' '))
      |    THEN '1' ELSE '0' END), '') AS sig
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.simhashed(docs(s, d), "doc_id", "text", 16).orderBy("doc_id")
  }

  /** Blocked n-gram Jaccard over hashed gram sets (block = language ×
    * length bucket). The oracle reproduces the same rolling hash per gram
    * and the same shared-gram counting join as the Spark plan. */
  val dedupJaccard = Q("dedup_ngram_jaccard",
    """WITH base AS (SELECT doc_id AS id,
      |    lang || '|' || CAST(n_chars // 100 AS VARCHAR) AS blk,
      |    list_distinct(list_transform(
      |      list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
      |             || ' ' || string_split(text,' ')[i+2])),
      |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(range(1, length(s) + 1),
      |               ci -> CAST(ascii(s[ci]) AS BIGINT))),
      |             (x, y) -> (x * 31 + y) % 1000000007))) AS hs
      |  FROM documents),
      |ex AS (SELECT id, blk, len(hs) AS n, unnest(hs) AS h FROM base)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT a.id AS a_id, b.id AS b_id,
      |    CAST(a.n AS INT) AS na, CAST(b.n AS INT) AS nb,
      |    CAST(COUNT(*) AS DOUBLE) AS inter,
      |    CASE WHEN CAST(a.n + b.n AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) > 0.0
      |      THEN CAST(COUNT(*) AS DOUBLE)
      |           / (CAST(a.n + b.n AS DOUBLE) - CAST(COUNT(*) AS DOUBLE))
      |      ELSE 0.0 END AS jaccard
      |  FROM ex a JOIN ex b ON a.blk = b.blk AND a.h = b.h AND a.id < b.id
      |  GROUP BY a.id, b.id, a.n, b.n)
      |WHERE jaccard >= 0.02 ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
      concat(col("lang"), lit("|"),
        floor(col("n_chars") / 100).cast("long").cast("string")),
      threshold = 0.02)
      .orderBy("a_id", "b_id")
  }

  /** Embedding near-dup pairs, blocked by label, cosine >= 0.3 (the
    * synthetic embeddings' within-label cosine tops out near 0.47). */
  val dedupEmbedding = Q("dedup_embedding",
    s"""WITH base AS (SELECT vec_id AS id, embedding AS vec, label AS blk
       |  FROM embeddings)
       |SELECT a_id, b_id, cos FROM (
       |  SELECT a.id AS a_id, b.id AS b_id, ${sqlCos("a.vec", "b.vec")} AS cos
       |  FROM base a JOIN base b ON a.blk = b.blk AND a.id < b.id)
       |WHERE cos >= 0.3 ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    Similarity.nearDupPairs(emb(s, d), "vec_id", "embedding",
      col("label"), threshold = 0.3)
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------- similarity

  /** Exact ANN baseline: brute-force cosine top-5 for query vectors. */
  val annBrute = Q("ann_brute_topk",
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |  WHERE vec_id < 5),
       |c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
       |sc AS (SELECT q_id, n_id, ${sqlCos("q_vec", "n_vec")} AS cos
       |  FROM c CROSS JOIN q WHERE q_id <> n_id),
       |r AS (SELECT q_id, n_id, cos, CAST(ROW_NUMBER() OVER
       |  (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk FROM sc)
       |SELECT q_id, n_id, rnk, cos FROM r WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 5)
      .withColumn("rnk", col("rnk").cast("long"))
      .orderBy("q_id", "rnk")
  }

  /** LSH-bucketed ANN (4 md5-derived hyperplanes → 16 buckets): top-3
    * within the query's bucket. The oracle regenerates the same planes
    * from md5, so both engines score identical candidates. */
  val annLsh = Q("ann_lsh_topk", {
    def bit(p: Int, v: String) =
      s"""(CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         |  i -> CAST($v[i] AS DOUBLE) * (CASE WHEN substr(md5('$p:' ||
         |    CAST(i - 1 AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END))),
         |  (x, y) -> x + y) >= 0.0 THEN '1' ELSE '0' END)""".stripMargin
    val bkt = (v: String) => (0 until 4).map(p => bit(p, v)).mkString(" || ")
    s"""WITH b AS (SELECT vec_id, embedding, ${bkt("embedding")} AS bkt
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_vec, bkt FROM b WHERE vec_id < 5),
       |c AS (SELECT vec_id AS n_id, embedding AS n_vec, bkt FROM b),
       |sc AS (SELECT q_id, n_id, ${sqlCos("q_vec", "n_vec")} AS cos
       |  FROM c JOIN q USING (bkt) WHERE q_id <> n_id),
       |r AS (SELECT q_id, n_id, cos, CAST(ROW_NUMBER() OVER
       |  (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk FROM sc)
       |SELECT q_id, n_id, rnk, cos FROM r WHERE rnk <= 3
       |ORDER BY q_id, rnk""".stripMargin
  }) { (s, d) =>
    val e = emb(s, d)
    Similarity.lshTopK(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 3, nPlanes = 4, dim = 64)
      .withColumn("rnk", col("rnk").cast("long"))
      .orderBy("q_id", "rnk")
  }

  // ---------------------------------------------------------------- text

  /** Stopword-lexicon language ID. */
  val textLangid = Q("text_langid", {
    val en = TextFns.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    val pt = TextFns.PtStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, lang,
       |  CASE WHEN len(list_filter(string_split(text, ' '), w -> list_contains($en, w)))
       |         > len(list_filter(string_split(text, ' '), w -> list_contains($pt, w)))
       |    THEN 'en'
       |  WHEN len(list_filter(string_split(text, ' '), w -> list_contains($pt, w)))
       |         > len(list_filter(string_split(text, ' '), w -> list_contains($en, w)))
       |    THEN 'pt' ELSE 'und' END AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    docs(s, d).select(col("doc_id"), col("lang"),
      TextFns.langId(col("text")).as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length/punct/word-shape/stopword signals in [0,1]. */
  /** The (tq, qy) quality CTE chain of text_quality's oracle, shared
    * with round-14's quality-aware survivor gate — one construction so
    * the two can never score different qualities. */
  private[queries] def sqlQualityCte: String = {
    val en = TextFns.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""tq AS (SELECT doc_id, text, string_split(text, ' ') AS w,
       |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
       |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
       |  CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
       |  CAST(len(list_filter(string_split(text, ' '), x -> list_contains($en, x))) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
       |  FROM documents),
       |qy AS (SELECT doc_id, ((CASE WHEN length(text) >= 100 THEN 1.0
       |      ELSE CAST(length(text) AS DOUBLE) / 100.0 END
       |    + (1.0 - LEAST(punct_ratio * 5.0, 1.0))
       |    + (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 10.0
       |        THEN 1.0 ELSE 0.5 END)
       |    + LEAST(stopword_ratio * 4.0, 1.0)) / 4.0) AS quality
       |  FROM tq)""".stripMargin
  }

  val textQuality = Q("text_quality",
    s"""WITH $sqlQualityCte
       |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
       |  t.avg_word_len, t.punct_ratio, t.stopword_ratio, qy.quality
       |FROM tq t JOIN qy ON qy.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    docs(s, d).select(col("doc_id"),
      TextFns.wsTokenCount(col("text")).as("n_words"),
      TextFns.avgWordLen(col("text")).as("avg_word_len"),
      TextFns.punctRatio(col("text")).as("punct_ratio"),
      TextFns.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFns.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace, regex-token, and BPE-ish subword budget. */
  val textTokens = Q("text_tokens",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
      |  CAST(COALESCE(list_sum(list_transform(
      |    regexp_extract_all(text, '[a-z0-9]+'),
      |    t -> (length(t) + 3) // 4)), 0) AS BIGINT) AS bpeish
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d).select(col("doc_id"),
      TextFns.wsTokenCount(col("text")).as("ws_tokens"),
      size(TextFns.regexTokens(col("text"))).cast("long").as("re_tokens"),
      TextFns.bpeishCount(col("text")).as("bpeish"))
      .orderBy("doc_id")
  }

  /** Fingerprints: normalized-md5 + Rabin-Karp rolling hash. */
  val textFingerprint = Q("text_fingerprint",
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(text) + 1),
      |      i -> CAST(ascii(text[i]) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS rh
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d).select(col("doc_id"),
      TextFns.fingerprint(col("text")).as("fp"),
      TextFns.rollingHash(col("text")).as("rh"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- multimodal + e2e

  /** Multimodal plumbing: opaque binary payloads through the typed
    * mapPartitions featurizer (decode STUBBED — see
    * [[Multimodal.MediaFeaturizer.decodeStub]]). Text bytes stand in for
    * media payloads; the oracle mirrors the stub arithmetic. */
  val multimodalFeatures = Q("multimodal_features",
    """SELECT doc_id AS id, 'text' AS kind,
      |  CAST(length(text) AS BIGINT) AS byte_len,
      |  md5(text) AS content_md5,
      |  CAST(length(text) % 640 AS BIGINT) AS width,
      |  CAST(length(text) % 480 AS BIGINT) AS height,
      |  CAST(length(text) % 30 + 1 AS BIGINT) AS n_frames
      |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
    import s.implicits._
    val records = docs(s, d).select(col("doc_id").as("id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        Multimodal.MediaRecord(id, "text", text.getBytes("UTF-8"))
      }
    Multimodal.featurize(records).toDF()
      .select(col("id"), col("kind"), col("byte_len"), col("content_md5"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"))
      .orderBy("id")
  }

  /** Frame-sampling fan-out ([[Multimodal.sampleFrameIndexes]]): every
    * 4th frame index per record — the (id, frame_idx) shape a real
    * decoder stage consumes, partition-parallel downstream. */
  val multimodalFrames = Q("multimodal_frames",
    """SELECT doc_id AS id,
      |  CAST(unnest(range(0, length(text) % 30 + 1, 4)) AS BIGINT) AS frame_idx
      |FROM documents ORDER BY id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    val records = docs(s, d).select(col("doc_id").as("id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        Multimodal.MediaRecord(id, "text", text.getBytes("UTF-8"))
      }
    Multimodal.sampleFrameIndexes(Multimodal.featurize(records).toDF(), stride = 4)
      .select(col("id"), col("frame_idx").cast("long").as("frame_idx"))
      .orderBy("id", "frame_idx")
  }

  /** The engine's SQL face: the same library running pure `spark.sql`
    * text over registered views — scalar subquery + IN-subquery (shapes
    * the DataFrame queries don't cover). MAX, not AVG, as the scalar:
    * exact in both engines (double AVG is order-dependent). */
  val sqlSubquery = Q("q32_sql_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > 0.8 * (SELECT MAX(o_totalprice) FROM orders)
      |  AND o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders_sq")
    Tables.customer(s, d).createOrReplaceTempView("customer_sq")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders_sq
        |WHERE o_totalprice > 0.8 * (SELECT MAX(o_totalprice) FROM orders_sq)
        |  AND o_custkey IN (SELECT c_custkey FROM customer_sq
        |                    WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** The reference pipeline end-to-end (SURVEY.md §2 DAG) over hit-shaped
    * records built from `orders`: flatten (P1-P3, F1, F3) → W2 class
    * filter → W1 date window → L1 limit → J1 municipio broadcast lookup
    * with fallback → F4 JSON serialization. Customer plays the municipio
    * dim, filtered to even keys so the unmatched-fallback path is live. */
  val pipelineHits = Q("pipeline_hits",
    """SELECT 'TJX' AS tribunal, CAST(o_orderkey AS VARCHAR) AS numero_processo,
      |  o_orderpriority AS classe,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ajuizamento,
      |  COALESCE(c_name, CAST(o_custkey AS VARCHAR)) AS municipio,
      |  '1' AS grau, o_orderstatus AS assuntos0,
      |  '[{"codigo":' || CAST(o_orderkey AS VARCHAR) || ',"nome":"' ||
      |    o_orderstatus || '","dataHora":"' ||
      |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"}]' AS mov_json,
      |  epoch_ms(o_orderdate) AS sort_key
      |FROM (SELECT * FROM orders
      |      WHERE o_orderpriority = '1-URGENT'
      |        AND (o_orderdate IS NULL OR (
      |          o_orderdate >= TIMESTAMP '1996-01-01 03:00:00'
      |          AND o_orderdate <= TIMESTAMP '1996-12-31 03:00:00'))
      |      ORDER BY epoch_ms(o_orderdate), CAST(o_orderkey AS VARCHAR)
      |      LIMIT 300) o
      |LEFT JOIN (SELECT c_custkey, c_name FROM customer
      |           WHERE c_custkey % 2 = 0) c ON o_custkey = c_custkey
      |ORDER BY numero_processo""".stripMargin) { (s, d) =>
    val iso = (c: Column) => date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val ord = Tables.orders(s, d)
    val raw = ord.select(
      struct(
        col("o_orderkey").cast("string").as("numeroProcesso"),
        struct(lit(1L).as("codigo"), col("o_orderpriority").as("nome")).as("classe"),
        iso(col("o_orderdate")).as("dataAjuizamento"),
        iso(col("o_orderdate")).as("dataHoraUltimaAtualizacao"),
        struct(lit("Eletrônico").as("nome")).as("formato"),
        struct(col("o_custkey").cast("string").as("codigo"),
          concat(lit("orgao "), col("o_custkey").cast("string")).as("nome"),
          col("o_custkey").cast("string").as("codigoMunicipioIBGE")).as("orgaoJulgador"),
        lit("1").as("grau"),
        array(struct(lit(1L).as("codigo"), col("o_orderstatus").as("nome"))).as("assuntos"),
        array(struct(col("o_orderkey").as("codigo"), col("o_orderstatus").as("nome"),
          iso(col("o_orderdate")).as("dataHora"))).as("movimentos")
      ).as("_source"),
      array(unix_millis(col("o_orderdate"))).as("sort"))
    val parsed = Hits.parseHits(raw, lit("TJX"))
    val tail = JurimetriaPipeline.transformTail(parsed, PipelineConfig(
      classeNome = Some("1-URGENT"),
      de = Some("1996-01-01"), ate = Some("1996-12-31"),
      maxProcessos = Some(300)))
    val dim = Tables.customer(s, d)
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("CD_MUN"), col("c_name").as("NM_MUN"))
    JurimetriaPipeline.enrichMunicipio(tail, dim)
      .select(
        col("tribunal"), col("numero_processo"), col("classe"),
        TimeFns.tsString(col("data_ajuizamento")).as("ajuizamento"),
        col("municipio"), col("grau"),
        element_at(col("assuntos"), 1).as("assuntos0"),
        to_json(transform(col("movimentos"), m => struct(
          m("codigo").as("codigo"), m("nome").as("nome"),
          TimeFns.tsString(m("dataHora")).as("dataHora")))).as("mov_json"),
        col("sort").as("sort_key"))
      .orderBy("numero_processo")
  }

  val ext: Seq[Q] = Seq(dedupExact, dedupSurvivors, dedupMinhash, dedupSimhash,
    dedupJaccard, dedupEmbedding, annBrute, annLsh, textLangid,
    textQuality, textTokens, textFingerprint, multimodalFeatures,
    multimodalFrames, sqlSubquery, pipelineHits)

  /** Everything the engine exposes. */
  // lazy breaks the clinit cycle: a RegistryN object initializing FIRST
  // (e.g. from a spec) calls back into this object's sqlCos, and an
  // eager `all` would then read that RegistryN's still-null round list
  lazy val all: Seq[Q] = Registry.core ++ Registry2.more ++ ext ++
    Registry3.round3 ++ Registry4.round4 ++ Registry5.round6 ++
    Registry6.round7 ++ Registry7.round8 ++ Registry8.round9 ++
    Registry9.round9b ++ Registry10.round11 ++ Registry10.round12 ++
    Registry11.round12b ++ Registry12.round12c ++ Registry13.round13 ++
    Registry14.round14 ++ Registry15.round15 ++ Registry16.round16 ++
    Registry17.round17 ++ Registry18.round18 ++ Registry19.round19 ++
    Registry20.round20 ++ Registry21.round21 ++ Registry22.round22 ++
    Registry23.round23 ++ Registry24.round24 ++ Registry25.round25
}
