package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.pipeline.{Clusters, Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-data-pipeline query surface over the `documents` and
  * `embeddings` fixtures: dedup (exact / complete n-gram Jaccard /
  * MinHash-LSH / SimHash), similarity search (brute-force + LSH ANN),
  * text analysis (stats, quality, lang-ID, token counts, fingerprints),
  * multimodal plumbing.
  *
  * Oracle notes: queries whose math is engine-portable (md5, integer
  * counts, integer-ratio doubles) carry full DuckDB oracles. The
  * xxhash64-based ops (MinHash, SimHash, hyperplane LSH) cannot be
  * reproduced in DuckDB — they run as rows-only entries here and are
  * correctness-tested in PipelineSpec against their exact counterparts
  * (recall/completeness assertions).
  *
  * A doubled corpus (identical copies for exact dedup, 80%-token
  * truncations for near-dup) is built INSIDE the query from the same
  * parquet both engines read, so dedup actually has duplicates to find.
  */
object Pipeline {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"),
      col("source"))

  /** docs, round-robin-spread to full parallelism when the scan would
    * plan fewer partitions than cores (Dedup.spread — a stats-gated
    * no-op at scale). Used by the queries whose cost is a per-row
    * expression pipeline over the scan (tokenize/regex/shingle/md5):
    * the sf fixtures are one small parquet file, so without it those
    * pipelines run as ONE task while every other core idles (r19
    * profile: q49's entire 1.7 s expression pipeline was 1 partition).
    * The underlying operators with a pinned zero-shuffle scale
    * contract (repetitionStats, gopherFilter, chunking) stay
    * shuffle-free — the spread lives here at the query edge.
    */
  private def sdocs(s: SparkSession, d: String): DataFrame =
    Dedup.spread(docs(s, d))

  /** documents ∪ exact copies of every 3rd doc (ids offset by 100000). */
  private def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val b = docs(s, d).select(col("doc_id"), col("text"))
    b.unionByName(b.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** documents ∪ near-duplicate truncations (first 80% of tokens). */
  private def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val b = docs(s, d).select(col("doc_id"), col("text"))
    val toks = tokens(col("text"))
    b.unionByName(b.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1),
        greatest(lit(1), floor(size(toks) * lit(0.8)).cast("int")))).as("text")))
  }

  private val nearDupCorpusSql =
    """WITH base AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> '') AS toks
      |  FROM documents
      |), corpus AS (
      |  SELECT doc_id, toks FROM base
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |         toks[1:greatest(1, CAST(floor(len(toks) * 0.8) AS INT))]
      |  FROM base
      |), shingled AS (
      |  SELECT doc_id,
      |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                        for i in range(1, len(toks) - 1)]) AS sh
      |  FROM corpus WHERE len(toks) >= 3
      |)""".stripMargin

  /** The exact-Jaccard pair graph both cluster queries consume,
    * materialized ONCE per scale factor (the bench measures q41's
    * pair generation already; q92/q93 measure CLUSTERING, and a real
    * pipeline materializes pairs once and feeds every downstream
    * consumer from the parquet).
    */
  private def dupPairsPath(s: SparkSession, d: String): String =
    Scratch.setupOnce("q92_pairs", d) {
      val p = Scratch.dir("duppairs")
      Dedup.nearDupJaccard(nearDupCorpus(s, d), "doc_id", "text",
          k = 3, threshold = 0.5)
        .write.mode("overwrite").parquet(p)
      p
    }

  /** q41's exact-Jaccard pairs extended to connected components for
    * the DuckDB oracle: bidirected edges + a recursive reachability
    * closure (fine at oracle scale; the ENGINE runs large-star /
    * small-star instead — a transitive closure materializes
    * O(n * cluster-size) rows and is exactly what you can't do at
    * 100 TB). `WITH RECURSIVE` governs the whole CTE chain.
    */
  private val dupClusterSqlPrefix =
    nearDupCorpusSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, inv AS (
        |  SELECT doc_id, unnest(sh) AS s FROM shingled
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        |), pairs AS (
        |  SELECT id1, id2
        |  FROM cand
        |  JOIN shingled x ON x.doc_id = id1
        |  JOIN shingled y ON y.doc_id = id2
        |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE) >= 0.5
        |), edges AS (
        |  SELECT id1 AS u, id2 AS v FROM pairs
        |  UNION SELECT id2, id1 FROM pairs
        |), reach AS (
        |  SELECT u AS a, v AS b FROM edges
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b
        |)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ---- Exact dedup: hash-groupBy, keep-first (one shuffle) -----------
    QueryDef(
      "q40_exact_dedup",
      (s, d) => {
        Dedup.exact(dupCorpus(s, d), "doc_id", "text")
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 3 = 0
        )
        SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        FROM corpus GROUP BY md5(text)
        ORDER BY keep_id
      """)),

    // ---- Complete near-dup: inverted-index candidates + exact Jaccard --
    QueryDef(
      "q41_near_dup_jaccard",
      (s, d) =>
        Dedup.nearDupJaccard(nearDupCorpus(s, d), "doc_id", "text",
            k = 3, threshold = 0.5)
          .orderBy(col("id1"), col("id2")),
      Some(nearDupCorpusSql +
        """, inv AS (
          |  SELECT doc_id, unnest(sh) AS s FROM shingled
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          |)
          |SELECT id1, id2,
          |       CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |       CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE) AS jaccard
          |FROM cand
          |JOIN shingled x ON x.doc_id = id1
          |JOIN shingled y ON y.doc_id = id2
          |WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |      CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE) >= 0.5
          |ORDER BY id1, id2""".stripMargin)),

    // ---- Capped-index Jaccard: q41's operator in its MANDATORY 100-TB
    //      configuration — ubiquitous shingles (df > cap) are dropped
    //      from the inverted index, collapsing the O(Σ df²) hot-key
    //      blowup while pairs that share any rare shingle still verify.
    //      The cap is deterministic, so this one is fully oracle-able:
    //      `inter` counts shared RARE shingles on both engines. --------
    QueryDef(
      "q63_near_dup_jaccard_capped",
      (s, d) =>
        Dedup.nearDupJaccard(nearDupCorpus(s, d), "doc_id", "text",
            k = 3, threshold = 0.5, maxShingleDf = Some(32))
          .orderBy(col("id1"), col("id2")),
      Some(nearDupCorpusSql +
        """, inv AS (
          |  SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM shingled
          |), rare AS (
          |  SELECT s FROM inv GROUP BY s HAVING count(*) <= 32
          |), capped AS (
          |  SELECT i.doc_id, i.n, i.s FROM inv i JOIN rare r USING (s)
          |)
          |SELECT a.doc_id AS id1, b.doc_id AS id2,
          |       CAST(count(*) AS DOUBLE) /
          |       CAST(a.n + b.n - count(*) AS DOUBLE) AS jaccard
          |FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
          |GROUP BY a.doc_id, b.doc_id, a.n, b.n
          |HAVING CAST(count(*) AS DOUBLE) /
          |       CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.5
          |ORDER BY id1, id2""".stripMargin)),

    // ---- MinHash + banded LSH (xxhash64: not oracle-expressible; exact
    //      recall asserted in PipelineSpec) ------------------------------
    QueryDef(
      "q42_minhash_lsh_dedup",
      (s, d) =>
        Dedup.nearDupMinhashLsh(nearDupCorpus(s, d), "doc_id", "text",
            k = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
          .orderBy(col("id1"), col("id2")),
      None),

    // ---- SimHash near-dup (chunk-bucketed, hamming-verified) -----------
    QueryDef(
      "q43_simhash_dedup",
      (s, d) =>
        Dedup.nearDupSimhash(nearDupCorpus(s, d), "doc_id", "text",
            maxHamming = 3)
          .orderBy(col("id1"), col("id2")),
      None),

    // ---- Corpus statistics by (lang, source) ---------------------------
    QueryDef(
      "q44_text_stats",
      (s, d) =>
        TextAnalysis.corpusStats(docs(s, d), "doc_id", "text",
            Seq("lang", "source"))
          .orderBy(col("lang"), col("source")),
      Some("""
        WITH f AS (
          SELECT lang, source,
                 len(list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> '')) AS n_tokens,
                 length(text) AS n_chars,
                 len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> ''),
                     t -> list_contains(['the','a','of','and','to','in','is'], t)))
                   AS n_stop
          FROM documents
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(n_tokens), 4) AS avg_tokens,
               round(avg(n_chars), 4) AS avg_chars,
               round(CAST(sum(n_stop) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6)
                 AS stopword_ratio
        FROM f GROUP BY lang, source
        ORDER BY lang, source
      """)),

    // ---- Per-document quality scoring ----------------------------------
    QueryDef(
      "q45_quality_score",
      (s, d) => {
        val f = TextAnalysis.docFeatures(docs(s, d), "doc_id", "text")
        f.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            col("n_stop"),
            TextAnalysis.qualityScore(col("n_tokens"), col("n_distinct"),
              col("n_stop")).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> '')) AS n_tokens,
                 len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> '')))
                   AS n_distinct,
                 len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> ''),
                     t -> list_contains(['the','a','of','and','to','in','is'], t)))
                   AS n_stop
          FROM documents
        )
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               CAST(n_distinct AS INT) AS n_distinct,
               CAST(n_stop AS INT) AS n_stop,
               round(0.3 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
                   + 0.4 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                   + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)),
                 6) AS quality
        FROM f ORDER BY doc_id
      """)),

    // ---- Heuristic language ID -----------------------------------------
    // three-projection shape: tokens once, the four marker counts once
    // (as materialized columns), argmax over attribute refs — inlining
    // langId(tokens(text)) duplicated every count ~6x through the CASE
    // and re-ran the split per copy (round-5/6 verdict item)
    QueryDef(
      "q46_lang_id",
      (s, d) =>
        sdocs(s, d)
          .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
          .select(Seq(col("doc_id"), col("lang")) ++
            TextAnalysis.langScores(col("toks"))
              .map { case (l, c) => c.as(s"s_$l") }: _*)
          .select(col("doc_id"), col("lang"),
            TextAnalysis.langIdFromScores(TextAnalysis.LangMarkers
              .map { case (l, _) => l -> col(s"s_$l") }).as("predicted"))
          .orderBy(col("doc_id")),
      Some("""
        WITH f AS (
          SELECT doc_id, lang,
                 list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> '') AS toks
          FROM documents
        ), sc AS (
          SELECT doc_id, lang,
            len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) AS s_en,
            len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
            len(list_filter(toks, t -> list_contains(['el','la','los','que','es'], t))) AS s_es,
            len(list_filter(toks, t -> list_contains(['le','la','les','et','est'], t))) AS s_fr
          FROM f
        )
        SELECT doc_id, lang,
               CASE WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
                    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                    WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
                    ELSE 'und' END AS predicted
        FROM sc ORDER BY doc_id
      """)),

    // ---- Brute-force cosine top-k over embeddings ----------------------
    // rank on full double precision (adjacent margins ~2e-5 >> engine
    // float error ~1e-7); reported sim rounded coarse for hash safety
    QueryDef(
      "q47_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            round(col("sim"), 2).as("sim"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(list_cosine_similarity(q.embedding, c.embedding) AS DOUBLE)
                   AS sim
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 10
        ), ranked AS (
          SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
               round(sim, 2) AS sim
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
      """)),

    // ---- LSH-bucketed ANN (hyperplane signs; recall vs exact asserted
    //      in PipelineSpec) ----------------------------------------------
    QueryDef(
      "q48_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.cosineTopKLsh(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            round(col("sim"), 2).as("sim"))
          .orderBy(col("query_id"), col("rank"))
      },
      None),

    // ---- Token counting + shingle fingerprints -------------------------
    QueryDef(
      "q49_fingerprint_tokens",
      (s, d) => {
        // fingerprint + both token counts in ONE narrow projection — a
        // join of two scans of the same table would be a planning smell.
        // No short-doc filter on either side: a filter over the shingle
        // column re-inlines the whole shingle expression via predicate
        // pushdown (measured 5x); docs with <3 tokens instead surface
        // as (NULL fingerprint, 0 shingles) in Spark AND the oracle
        sdocs(s, d).select(col("doc_id"), col("text"),
            tokens(col("text")).as("toks"))
          .select(col("doc_id"), shingles(col("toks"), 3).as("sh"),
            size(col("toks")).as("ws_tokens"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[A-Z][a-z]*|[0-9]|[^A-Za-z0-9\\s]"),
              lit(0))).as("bpe_chunks"))
          .select(col("doc_id"),
            array_min(transform(col("sh"), s => md5(s))).as("fingerprint"),
            size(col("sh")).as("n_shingles"), col("ws_tokens"),
            col("bpe_chunks"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH f AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> '') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id, text, toks,
                 list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                for i in range(1, len(toks) - 1)]) AS sh
          FROM f
        )
        SELECT doc_id,
               list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS fingerprint,
               CAST(len(sh) AS INT) AS n_shingles,
               CAST(len(toks) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                 '[a-z]+|[A-Z][a-z]*|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS bpe_chunks
        FROM sh ORDER BY doc_id
      """)),

    // ---- Domain-mixture sampling ----------------------------------------
    // deterministic weighted keep per language (the "mix 30% web, 50%
    // books" curation step): id % 10 < weight(lang). No RNG — re-runs
    // keep exactly the same rows — and the filter pushes into the scan.
    QueryDef(
      "q83_domain_mixture",
      (s, d) => {
        val sampled = graft.pipeline.Curation.sampleMixture(
          docs(s, d), "doc_id", "lang",
          Map("en" -> 8, "de" -> 5, "fr" -> 4, "es" -> 3, "zh" -> 2))
        sampled.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(length(col("text")).cast("long")).as("chars_kept"))
          .orderBy(col("lang"))
      },
      Some("""
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(length(text)) AS BIGINT) AS chars_kept
        FROM documents
        WHERE doc_id % 10 < CASE lang WHEN 'en' THEN 8 WHEN 'de' THEN 5
                                      WHEN 'fr' THEN 4 WHEN 'es' THEN 3
                                      WHEN 'zh' THEN 2 ELSE 0 END
        GROUP BY lang ORDER BY lang
      """)),

    // ---- PII redaction ---------------------------------------------------
    // synthetic emails/phone runs appended per doc (the corpus itself is
    // clean), then redacted with portable regex — removed_chars pins that
    // both engines redacted the SAME spans, redacted_tail the rewrite.
    QueryDef(
      "q84_pii_redaction",
      (s, d) => {
        val withPii = sdocs(s, d).select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com tel 55512"), lpad(col("doc_id").cast("string"), 5, "0"))
            .as("dirty"))
        withPii.select(col("doc_id"),
            graft.pipeline.Curation.redactPii(col("dirty")).as("clean"),
            col("dirty"))
          .select(col("doc_id"),
            (length(col("dirty")) - length(col("clean"))).as("removed_chars"),
            // the redacted suffix is always ' contact <EMAIL> tel <NUM>'
            substring(col("clean"), -26, 26).as("redacted_tail"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id ||
                   '@example.com tel 55512' || lpad(CAST(doc_id AS VARCHAR), 5, '0')
                   AS dirty
          FROM documents),
        r AS (
          SELECT doc_id, dirty,
                 regexp_replace(regexp_replace(dirty,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '[0-9]{7,}', '<NUM>', 'g') AS clean
          FROM p)
        SELECT doc_id,
               CAST(length(dirty) - length(clean) AS INT) AS removed_chars,
               right(clean, 26) AS redacted_tail
        FROM r ORDER BY doc_id
      """)),

    // ---- Token-budget packing --------------------------------------------
    // context-window bucketing via a per-language running token count
    // (concat-then-chunk pretokenization): parallel across partitions,
    // streaming within one — the at-scale form packs per (domain, shard).
    QueryDef(
      "q85_token_packing",
      (s, d) => {
        val withTokens = docs(s, d).select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).as("n_tokens"))
        graft.pipeline.Curation.packTokens(withTokens,
            "lang", "doc_id", "n_tokens", budget = 512)
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bucket_tokens"))
          .orderBy(col("lang"), col("bucket"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
                 len(list_filter(regexp_split_to_array(text, '\s+'), t0 -> t0 <> '')) AS n_tokens
          FROM documents),
        b AS (
          SELECT lang,
                 CAST(floor((sum(n_tokens) OVER (PARTITION BY lang
                     ORDER BY doc_id) - n_tokens) / 512) AS INT) AS bucket,
                 n_tokens
          FROM t)
        SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
        FROM b GROUP BY lang, bucket ORDER BY lang, bucket
      """)),

    // ---- Benchmark decontamination ---------------------------------------
    // the n-gram overlap filter run before training (GPT-3's 13-gram
    // rule, n=8 here so the synthetic near-dup pairs actually overlap):
    // every fifth document plays the benchmark, the rest the corpus;
    // corpus docs sharing any 8-gram with the benchmark drop. Benchmark
    // grams broadcast; the corpus is never shuffled.
    QueryDef(
      "q90_decontamination",
      (s, d) => {
        val all = docs(s, d)
        val corpus = all.filter(col("doc_id") % 5 =!= 0)
        val bench = all.filter(col("doc_id") % 5 === 0)
        graft.pipeline.Curation.decontaminate(
            corpus, "doc_id", "text", bench, "text", n = 8)
          .select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), t0 -> t0 <> '') AS w
          FROM documents),
        grams AS (
          SELECT doc_id, array_to_string(w[i:i+7], ' ') AS g
          FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
          WHERE len(w) >= 8),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0),
        hits AS (
          SELECT DISTINCT doc_id FROM grams
          WHERE doc_id % 5 <> 0 AND g IN (SELECT g FROM bench))
        SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
        ORDER BY doc_id
      """)),

    // ---- Substring (span) dedup — Lee et al. 2022 ----------------------
    // the tier between document and line dedup: a 13-token gram in >=2
    // docs keeps one canonical occurrence (min-doc-id owner) and is
    // cut everywhere else, overlapping windows merging through
    // position coverage. Spark matches 8-byte gram hashes; the oracle
    // recomputes with the gram STRINGS (same equality, collision-free
    // by construction), so the gate covers owner choice, coverage
    // merge, and token-level reassembly end to end.
    QueryDef(
      "q150_span_dedup",
      (s, d) => graft.pipeline.Dedup.dedupSpans(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), length(col("clean_text")).cast("long")
            .as("n_clean_chars"),
          col("n_tokens").cast("long").as("n_tokens"), col("n_removed"))
        .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                     t0 -> t0 <> '') AS w
          FROM documents),
        grams AS (
          SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+12], ' ') AS g
          FROM toks, unnest(range(1, len(w) - 11)) AS t(i)
          WHERE len(w) >= 13),
        owners AS (
          SELECT g, min(doc_id) AS owner FROM grams
          GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        cut AS (
          SELECT DISTINCT p.doc_id, p.pos + j AS cpos
          FROM grams p JOIN owners o USING (g),
               unnest(range(0, 13)) AS u(j)
          WHERE p.doc_id <> o.owner),
        kept AS (
          SELECT t.doc_id, i - 1 AS pos, w[i] AS tok
          FROM toks t, unnest(range(1, len(w) + 1)) AS x(i)
          WHERE NOT EXISTS (SELECT 1 FROM cut c
                            WHERE c.doc_id = t.doc_id AND c.cpos = i - 1))
        SELECT t.doc_id,
               CAST(length(coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), ''))
                 AS BIGINT) AS n_clean_chars,
               CAST(len(any_value(t.w)) AS BIGINT) AS n_tokens,
               CAST(len(any_value(t.w)) - count(k.tok) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
        GROUP BY t.doc_id
        ORDER BY t.doc_id
      """)),

    // ---- Trained quality classifier ------------------------------------
    // fastText-style linear model over hashed uni+bigrams (Joulin et
    // al. 2016), trained in-engine with MLlib L-BFGS: label 1 = the
    // src0-src2 reference slice (the same "looks curated" axis q142
    // scores with an n-gram LM), then the whole corpus is scored and
    // gated per language. Iterative float training is not DuckDB-
    // reproducible -> rows-only (one row per language, count stable);
    // separation quality and rank stability are unit-pinned.
    QueryDef(
      "q152_quality_classifier",
      (s, d) => {
        val all = docs(s, d)
        val labeled = all.select(col("text"),
          when(col("source").isin("src0", "src1", "src2"), 1)
            .otherwise(0).as("label"))
        graft.pipeline.Curation.qualityClassifierScores(labeled, "text",
            "label", all, "doc_id", "text")
          .join(all.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("quality") > 0.5, 1L).otherwise(0L)).as("n_kept"))
          .orderBy(col("lang"))
      },
      None),

    // ---- Incremental span dedup ----------------------------------------
    // the batch (doc_id >= 400, ids monotone past history) probes the
    // persisted spanGramIndex of history (doc_id < 400) — O(batch +
    // touched index slice), history never re-tokenized. Under monotone
    // ids arrival-ordered ownership == min-id ownership, so the oracle
    // is the FULL q150 computation restricted to batch documents.
    QueryDef(
      "q151_span_dedup_incremental",
      (s, d) => {
        val all = docs(s, d)
        val hist = all.filter(col("doc_id") < 400)
        val batch = all.filter(col("doc_id") >= 400)
        graft.pipeline.Dedup.dedupSpansIncremental(batch, "doc_id", "text",
            graft.pipeline.Dedup.spanGramIndex(hist, "doc_id", "text"))
          .select(col("doc_id"), length(col("clean_text")).cast("long")
              .as("n_clean_chars"),
            col("n_tokens").cast("long").as("n_tokens"), col("n_removed"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                     t0 -> t0 <> '') AS w
          FROM documents),
        grams AS (
          SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+12], ' ') AS g
          FROM toks, unnest(range(1, len(w) - 11)) AS t(i)
          WHERE len(w) >= 13),
        owners AS (
          SELECT g, min(doc_id) AS owner FROM grams
          GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        cut AS (
          SELECT DISTINCT p.doc_id, p.pos + j AS cpos
          FROM grams p JOIN owners o USING (g),
               unnest(range(0, 13)) AS u(j)
          WHERE p.doc_id <> o.owner),
        kept AS (
          SELECT t.doc_id, i - 1 AS pos, w[i] AS tok
          FROM toks t, unnest(range(1, len(w) + 1)) AS x(i)
          WHERE NOT EXISTS (SELECT 1 FROM cut c
                            WHERE c.doc_id = t.doc_id AND c.cpos = i - 1))
        SELECT t.doc_id,
               CAST(length(coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), ''))
                 AS BIGINT) AS n_clean_chars,
               CAST(len(any_value(t.w)) AS BIGINT) AS n_tokens,
               CAST(len(any_value(t.w)) - count(k.tok) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
        WHERE t.doc_id >= 400
        GROUP BY t.doc_id
        ORDER BY t.doc_id
      """)),

    // ---- Contamination report (audit twin of q90) ----------------------
    // per-document counts of DISTINCT shared n-grams instead of a drop:
    // how contaminated, not just whether. Same broadcast-probe shape,
    // same fixture split as q90; count semantics are distinct-per-doc
    // (the hash set the probe consumes is distinct by construction).
    QueryDef(
      "q114_contamination_report",
      (s, d) => {
        val all = docs(s, d)
        val corpus = all.filter(col("doc_id") % 5 =!= 0)
        val bench = all.filter(col("doc_id") % 5 === 0)
        graft.pipeline.Curation.contaminationReport(
            corpus, "doc_id", "text", bench, "text", n = 8)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), t0 -> t0 <> '') AS w
          FROM documents),
        grams AS (
          SELECT doc_id, array_to_string(w[i:i+7], ' ') AS g
          FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
          WHERE len(w) >= 8),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0)
        SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_shared_grams
        FROM grams
        WHERE doc_id % 5 <> 0 AND g IN (SELECT g FROM bench)
        GROUP BY doc_id ORDER BY doc_id
      """)),

    // ---- Multimodal plumbing: binary assets -> decode stub -> features -
    QueryDef(
      "q50_multimodal_features",
      (s, d) => {
        val assets = Multimodal.assetsFromDocs(docs(s, d), "doc_id", "text")
        val meta = Multimodal.decodeMeta(s, assets).toDF()
        val feats = Multimodal.extractFeatures(s, assets).toDF()
          .select(col("asset_id"),
            round(element_at(col("features"), 1), 4).as("f0"),
            round(element_at(col("features"), 2), 4).as("f1"))
        meta.join(feats, "asset_id")
          .select(col("asset_id"), col("kind"), col("n_bytes"), col("width"),
            col("height"), col("duration_ms"), col("f0"), col("f1"))
          .orderBy(col("asset_id"))
      },
      None),

    // ---- Multimodal metadata half, hash-matched -------------------------
    // the envelope (asset_id, kind, n_bytes) is pure plumbing — no stub
    // math — so it oracles exactly: kind is the doc_id%3 round-robin,
    // n_bytes the UTF-8 payload length. The stub-derived fields
    // (width/height/duration/features) stay rows-only in q50.
    QueryDef(
      "q50a_multimodal_meta",
      (s, d) => {
        val assets = Multimodal.assetsFromDocs(docs(s, d), "doc_id", "text")
        Multimodal.decodeMeta(s, assets).toDF()
          .select(col("asset_id"), col("kind"), col("n_bytes"))
          .orderBy(col("asset_id"))
      },
      Some("""
        SELECT CAST(doc_id AS BIGINT) AS asset_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes
        FROM documents ORDER BY asset_id
      """)),

    // ---- Embedding-cosine near-dup, exact (the oracle baseline) --------
    // all-pairs on an 800-vector slice: quadratic by design — the
    // correctness anchor for the LSH-bucketed variant below. Threshold
    // margin at 0.4 is ~1e-5 on this slice, ~100x the engines'
    // float->double cosine disagreement (same rationale as q47's ranks);
    // reported sim rounded coarse for hash safety.
    QueryDef(
      "q70_embedding_near_dup",
      (s, d) => {
        val emb = Tables.embeddings(s, d).filter(col("vec_id") < 800)
        Dedup.nearDupEmbedding(emb, "vec_id", "embedding", threshold = 0.4)
          .select(col("id1"), col("id2"), round(col("sim"), 2).as("sim"))
          .orderBy(col("id1"), col("id2"))
      },
      Some("""
        WITH e AS (SELECT * FROM embeddings WHERE vec_id < 800),
        p AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
                 CAST(list_cosine_similarity(a.embedding, b.embedding)
                      AS DOUBLE) AS sim
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT id1, id2, round(sim, 2) AS sim
        FROM p WHERE sim >= 0.4
        ORDER BY id1, id2
      """)),

    // ---- Embedding-cosine near-dup, LSH-bucketed (the scale path) ------
    // full corpus; candidates from shared hyperplane buckets, verified
    // by exact cosine (no false positives). Hyperplane signs are not
    // reproducible in DuckDB -> rows-only here; recall vs the exact
    // variant is pinned in PipelineSpec.
    QueryDef(
      "q71_embedding_near_dup_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Dedup.nearDupEmbeddingLsh(emb, "vec_id", "embedding",
            threshold = 0.4)
          .select(col("id1"), col("id2"), round(col("sim"), 2).as("sim"))
          .orderBy(col("id1"), col("id2"))
      },
      None),

    // ---- IVF ANN: k-means cells + nprobe search ------------------------
    // the second ANN scale path (cell-local candidate join vs q48's
    // bucket-local). Float-mean codebooks are partition-order sensitive
    // at ~1e-16 -> rows-only; recall vs exact pinned in PipelineSpec.
    QueryDef(
      "q72_ann_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.cosineTopKIvf(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            round(col("sim"), 2).as("sim"))
          .orderBy(col("query_id"), col("rank"))
      },
      None),

    // ---- Duplicate clusters: connected components over near-dup pairs -
    // near-dup similarity is not transitive (A~B, B~C, A!~C), so pair
    // output alone under-deduplicates; this collapses q41's exact
    // Jaccard pairs into components via alternating large-star /
    // small-star (Clusters.dupClusters). Oracled with a recursive
    // reachability CTE in DuckDB — both engines label each node with
    // its component's minimum id.
    QueryDef(
      "q92_dup_clusters",
      (s, d) => Clusters.dupClusters(
          s.read.parquet(dupPairsPath(s, d)), "id1", "id2")
        .orderBy(col("id")),
      Some(dupClusterSqlPrefix +
        """
          |SELECT a AS id, least(a, min(b)) AS cluster
          |FROM reach GROUP BY a
          |ORDER BY id""".stripMargin)),

    // ---- Cluster dedup: one representative per duplicate cluster -------
    // the step a real pipeline runs after q92: minimum-id member of
    // each cluster survives, other members drop, documents in no pair
    // pass through. The doomed set joins as an equi anti-join (never a
    // broadcast — on crawl corpora it is a large corpus fraction).
    QueryDef(
      "q93_cluster_dedup",
      (s, d) => Clusters.dedupByCluster(nearDupCorpus(s, d), "doc_id",
          s.read.parquet(dupPairsPath(s, d)), "id1", "id2")
        .select(col("doc_id"))
        .orderBy(col("doc_id")),
      Some(dupClusterSqlPrefix +
        """, labels AS (
          |  SELECT a AS id, least(a, min(b)) AS cluster
          |  FROM reach GROUP BY a
          |)
          |SELECT c.doc_id FROM corpus c
          |WHERE c.doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)
          |ORDER BY doc_id""".stripMargin)),

    // ---- Within-document repetition filters ----------------------------
    // the boilerplate/degenerate-page metrics (max-token fraction,
    // duplicate-token fraction) computed as a zero-shuffle per-row fold
    // over the SORTED token array — the oracle reproduces the same
    // integer counts via unnest + group-by, pinning the run-length
    // trick's math exactly.
    QueryDef(
      "q100_repetition",
      (s, d) => TextAnalysis.repetitionStats(sdocs(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""
        WITH c AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents
        ), g AS (
          SELECT doc_id, tok, count(*) AS cnt FROM c
          WHERE tok <> '' GROUP BY 1, 2
        ), f AS (
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                 count(*) AS d, max(cnt) AS m
          FROM g GROUP BY 1
        )
        -- LEFT JOIN keeps zero-token documents (empty/whitespace-only
        -- text splits to only '' tokens, filtered above): they appear
        -- with n_tokens = 0 and NULL ratios, matching the Spark side's
        -- undefined-ratio semantics
        SELECT d0.doc_id, COALESCE(f.n, 0) AS n_tokens,
               round(CAST(f.m AS DOUBLE) / f.n, 4) AS max_tok_frac,
               round(1 - CAST(f.d AS DOUBLE) / f.n, 4) AS dup_tok_frac
        FROM documents d0 LEFT JOIN f USING (doc_id)
        ORDER BY doc_id
      """)),

    // ---- Corpus-level line dedup (boilerplate removal) -----------------
    // RefinedWeb/MassiveText's pass: any line appearing in >= minDf
    // distinct documents is boilerplate (nav bars, cookie banners) and
    // is struck from every document. The fixture has no line structure
    // (token-bag text), so the query builds it reproducibly on both
    // sides: 10-token spans become lines, and a header/footer line is
    // injected on doc_id % 2 / % 3 — those repeat across ~250/~167 of
    // 500 docs and cross minDf = 50; organic spans stay unique and
    // survive. Spark keys line movement on xxhash64; the string-keyed
    // oracle is value-identical below any fixture scale that can
    // produce a 64-bit collision (same budget as q90).
    QueryDef(
      "q105_line_dedup",
      (s, d) => {
        val toks = tokens(col("text"))
        val nl = greatest(lit(1), ceil(size(toks) / lit(10.0)).cast("int"))
        val spans = transform(sequence(lit(0), nl - 1),
          i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10))))
        val withHdr = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(array(lit("subscribe to our newsletter")), spans))
          .otherwise(spans)
        val withFtr = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(withHdr, array(lit("all rights reserved"))))
          .otherwise(withHdr)
        val lined = docs(s, d).select(col("doc_id"),
          concat_ws("\n", withFtr).as("text"))
        graft.pipeline.Curation.dedupLines(lined, "doc_id", "text",
          minDf = 50)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             t -> t <> '') AS toks
          FROM documents
        ), spanned AS (
          SELECT doc_id,
            list_transform(
              range(0, greatest(1, CAST(ceil(len(toks)/10.0) AS INT))),
              i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) AS ls0
          FROM base
        ), lined AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 3 = 0
              THEN (CASE WHEN doc_id % 2 = 0
                      THEN ['subscribe to our newsletter'] || ls0
                      ELSE ls0 END) || ['all rights reserved']
              ELSE (CASE WHEN doc_id % 2 = 0
                      THEN ['subscribe to our newsletter'] || ls0
                      ELSE ls0 END) END) AS ls
          FROM spanned
        ), lines AS (
          SELECT doc_id, unnest(ls) AS line,
                 generate_subscripts(ls, 1) AS pos
          FROM lined
        ), df AS (
          SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1
        ), flagged AS (
          SELECT l.doc_id, l.line, l.pos, (d.df >= 50) AS hot
          FROM lines l JOIN df d USING (line)
        )
        SELECT doc_id,
               COALESCE(string_agg(line, chr(10) ORDER BY pos)
                          FILTER (WHERE NOT hot), '') AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_removed
        FROM flagged GROUP BY doc_id ORDER BY doc_id
      """)),

    // ---- Gopher-style quality gate -------------------------------------
    // the hard keep/drop ruleset (vs q45's soft score): every metric is
    // an integer ratio rounded to 4 places and the rules evaluate the
    // rounded values, so reasons/keep reproduce bit-for-bit in DuckDB.
    // minWords = 20 splits the fixture (43 short docs fail; 112 fail
    // stopwords) — the defaults' 50 would gate half the corpus on one
    // rule and mask the others.
    QueryDef(
      "q106_gopher_filter",
      (s, d) => TextAnalysis.gopherFilter(sdocs(s, d), "doc_id", "text",
          minWords = 20)
        .orderBy(col("doc_id")),
      Some("""
        WITH f AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\s+'),
                             t0 -> t0 <> '') AS toks,
                 length(text) - length(replace(text, '#', '')) AS sym_h,
                 (length(text) - length(replace(text, '...', ''))) / 3
                   AS sym_e
          FROM documents
        ), g AS (
          SELECT doc_id, len(toks) AS n_words,
                 list_sum(list_transform(toks, t -> length(t))) AS chars,
                 sym_h, sym_e,
                 len(list_filter(toks,
                     t -> regexp_matches(t, '[A-Za-z]'))) AS alpha,
                 len(list_filter(toks,
                     t -> list_contains(
                       ['the','a','of','and','to','in','is'], t))) AS nstop,
                 len(list_distinct(toks)) AS dist
          FROM f
        ), m AS (
          SELECT doc_id, CAST(n_words AS INT) AS n_words,
                 CAST(nstop AS INT) AS n_stop,
                 CASE WHEN n_words > 0
                   THEN round(CAST(chars AS DOUBLE) / n_words, 4) END
                   AS mean_word_len,
                 CASE WHEN n_words > 0
                   THEN round(CAST(sym_h + sym_e AS DOUBLE) / n_words, 4) END
                   AS symbol_ratio,
                 CASE WHEN n_words > 0
                   THEN round(CAST(alpha AS DOUBLE) / n_words, 4) END
                   AS alpha_frac,
                 CASE WHEN n_words > 0
                   THEN round(1.0 - CAST(dist AS DOUBLE) / n_words, 4) END
                   AS dup_tok_frac
          FROM g
        ), r AS (
          SELECT *, concat_ws(',',
                 CASE WHEN n_words < 20 OR n_words > 100000
                   THEN 'n_words' END,
                 CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0
                   THEN 'word_len' END,
                 CASE WHEN symbol_ratio > 0.1 THEN 'symbols' END,
                 CASE WHEN alpha_frac < 0.8 THEN 'alpha' END,
                 CASE WHEN n_stop < 2 THEN 'stopwords' END,
                 CASE WHEN dup_tok_frac > 0.3 THEN 'dup_tokens' END)
                 AS reasons
          FROM m
        )
        SELECT doc_id, n_words, n_stop, mean_word_len, symbol_ratio,
               alpha_frac, dup_tok_frac, reasons, (reasons = '') AS keep
        FROM r ORDER BY doc_id
      """)),

    // ---- Deterministic split assignment --------------------------------
    // train/val/test membership from md5(id) over 10,000 buckets: no
    // RNG, stable under reruns and corpus growth, and portable — the
    // oracle recomputes the exact same assignment from the same hash.
    QueryDef(
      "q108_split_assignment",
      (s, d) => graft.pipeline.Curation.assignSplit(docs(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               CASE WHEN b < 8000 THEN 'train'
                    WHEN b < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 10000 AS b
          FROM documents)
        ORDER BY doc_id
      """)),

    // ---- Corpus-wide frequent n-gram mining ----------------------------
    // df counted on 8-byte gram hashes (first exchange fixed-width);
    // strings recovered for survivors only on a second scan. The
    // string-keyed oracle is value-identical below hash-collision
    // scale (same budget as q90/q105).
    QueryDef(
      "q110_frequent_ngrams",
      (s, d) => TextAnalysis.frequentNgrams(docs(s, d), "doc_id", "text",
          n = 3, minDf = 5)
        .orderBy(col("gram")),
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(text)),
                   '\s+'), t0 -> t0 <> '') AS t
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(t) - 1),
                   i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM toks WHERE len(t) >= 3
        ), g AS (SELECT unnest(s) AS gram FROM sh)
        SELECT gram, CAST(count(*) AS BIGINT) AS df
        FROM g GROUP BY gram HAVING count(*) >= 5
        ORDER BY gram
      """)),

    // ---- Text normalization (C4-style cleanup) -------------------------
    // the fixture is clean, so the query dirties it deterministically
    // (control char, doubled spaces, a newline run) and normalizes it
    // back; the oracle mirrors the same regex chain (DuckDB needs the
    // 'g' flag — its regexp_replace is first-match by default, Spark's
    // is global).
    QueryDef(
      "q111_normalize_text",
      (s, d) => {
        val dirty = concat(lit("\u0001"),
          regexp_replace(col("text"), " ", "  "), lit("\n\n\n\ntail"))
        sdocs(s, d).select(col("doc_id"),
            graft.pipeline.Curation.normalizeText(dirty).as("clean"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
          trim(regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  chr(1) || regexp_replace(text, ' ', '  ', 'g') ||
                    chr(10) || chr(10) || chr(10) || chr(10) || 'tail',
                  '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                '[ \t]+', ' ', 'g'),
              ' *\n *', chr(10), 'g'),
            '\n{3,}', chr(10) || chr(10), 'g')) AS clean
        FROM documents ORDER BY doc_id
      """)),

    // ---- The composed curation pipeline, one job -----------------------
    // normalize → quality gate → exact dedup (row-preserving) → split
    // assignment, chained as ONE Spark plan: every per-doc stage is a
    // projection that fuses into the dedup aggregate's map side, so the
    // whole pipeline costs the dedup shuffle plus the output sort —
    // TWO exchanges total at any corpus size (plan pinned in
    // PipelineSpec). The oracle replays each stage in SQL.
    QueryDef(
      "q112_curation_pipeline",
      (s, d) => {
        // NOT spread: the downstream gate filter pushes back through any
        // repartition and re-inlines the whole normalize+gate chain at
        // the scan (measured 1.95 -> 2.2 s with a spread here), so the
        // exchange buys no parallelism for this filter-topped shape
        val cleaned = dupCorpus(s, d).select(col("doc_id"),
          graft.pipeline.Curation.normalizeText(col("text")).as("text"))
        val gated = TextAnalysis.gopherFilter(cleaned, "doc_id", "text",
            minWords = 20, maxDupFrac = 0.6, keepInput = true)
          .filter(col("keep")).select(col("doc_id"), col("text"))
        val unique = Dedup.exactKeepFirst(gated, "doc_id", "text")
        graft.pipeline.Curation.assignSplit(unique, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 3 = 0
        ), cleaned AS (
          SELECT doc_id,
            trim(regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(text, '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                  '[ \t]+', ' ', 'g'),
                ' *\n *', chr(10), 'g'),
              '\n{3,}', chr(10) || chr(10), 'g')) AS text
          FROM corpus
        ), g AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(text, '\s+'),
                             t0 -> t0 <> '') AS toks,
                 length(text) - length(replace(text, '#', '')) AS sym_h,
                 (length(text) - length(replace(text, '...', ''))) / 3
                   AS sym_e
          FROM cleaned
        ), m AS (
          SELECT doc_id, text, len(toks) AS n_words,
                 list_sum(list_transform(toks, t -> length(t))) AS chars,
                 sym_h, sym_e,
                 len(list_filter(toks,
                     t -> regexp_matches(t, '[A-Za-z]'))) AS alpha,
                 len(list_filter(toks,
                     t -> list_contains(
                       ['the','a','of','and','to','in','is'], t))) AS nstop,
                 len(list_distinct(toks)) AS dist
          FROM g
        ), gated AS (
          SELECT doc_id, text FROM m
          WHERE n_words >= 20 AND n_words <= 100000
            AND round(CAST(chars AS DOUBLE) / n_words, 4) BETWEEN 3.0 AND 10.0
            AND round(CAST(sym_h + sym_e AS DOUBLE) / n_words, 4) <= 0.1
            AND round(CAST(alpha AS DOUBLE) / n_words, 4) >= 0.8
            AND nstop >= 2
            AND round(1.0 - CAST(dist AS DOUBLE) / n_words, 4) <= 0.6
        ), uniq AS (
          SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
        )
        SELECT doc_id,
               CASE WHEN b < 8000 THEN 'train'
                    WHEN b < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 10000 AS b
          FROM uniq)
        ORDER BY doc_id
      """)),

    // ---- Deterministic sharded shuffle (training order) ----------------
    // md5 position keys -> shard + within-shard rank: the reproducible
    // replacement for ORDER BY rand() that never global-sorts. The
    // oracle recomputes the identical md5 math, so both engines agree
    // on every (shard, pos) bit-for-bit.
    QueryDef(
      "q117_shard_shuffle",
      (s, d) => graft.pipeline.Curation.shardShuffle(
          docs(s, d).select(col("doc_id"), col("source")), "doc_id",
          numShards = 16, seed = 42L)
        .select(col("doc_id"), col("source"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos")),
      Some("""
        WITH k AS (
          SELECT doc_id, source,
                 md5(concat('42:', CAST(doc_id AS VARCHAR))) AS key
          FROM documents
        ), sh AS (
          SELECT doc_id, source, key,
                 CAST(CAST(concat('0x', substr(key, 1, 8)) AS BIGINT) % 16
                   AS INT) AS shard
          FROM k
        )
        SELECT doc_id, source, shard,
               CAST(row_number() OVER (PARTITION BY shard
                 ORDER BY key, doc_id) AS INT) AS pos
        FROM sh ORDER BY shard, pos
      """)),

    // ---- Weighted epoch mixing (corpus up-sampling) --------------------
    // Per-source epoch weights in {0.5, 1.25, 2.0, 2.75, 3.5} (exact
    // binary fractions, so the fractional coin compares identically in
    // both engines): floor(w) copies + one more when the md5 coin lands
    // under frac(w). Zero shuffles — a generate over a scan.
    QueryDef(
      "q118_epoch_mixture",
      (s, d) => {
        val srcNum = substring(col("source"), 4, 8).cast("int")
        val w = lit(0.5) + (srcNum % 5).cast("double") * lit(0.75)
        graft.pipeline.Curation.upsampleByWeight(
            docs(s, d).select(col("doc_id"), col("source")), "doc_id", w,
            salt = "mix1")
          .select(col("doc_id"), col("source"), col("copy_id"))
          .orderBy(col("doc_id"), col("copy_id"))
      },
      Some("""
        WITH b AS (
          SELECT doc_id, source,
                 CAST(0.5 AS DOUBLE) +
                   (CAST(substr(source, 4) AS INT) % 5) *
                   CAST(0.75 AS DOUBLE) AS w,
                 CAST(CAST(concat('0x', substr(md5(concat('mix1',
                   CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
                   / 4294967296.0 AS u
          FROM documents
        ), c AS (
          SELECT doc_id, source,
                 CAST(floor(w) AS BIGINT) +
                   CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS copies
          FROM b
        )
        SELECT doc_id, source, unnest(range(copies)) AS copy_id
        FROM c ORDER BY doc_id, copy_id
      """)),

    // ---- Semantic dedup (SemDeDup: cluster, then prune in-cluster) -----
    // k-means cells bound the quadratic term to the largest cell; the
    // float codebook is partition-order sensitive -> rows-only, with
    // the nlist=1 case pinned EXACTLY equal to the nearDupEmbedding
    // keep set in PipelineSpec (and clustered keeps a superset).
    QueryDef(
      "q119_semantic_dedup",
      (s, d) => Dedup.semanticDedup(Tables.embeddings(s, d), "vec_id",
          "embedding", threshold = 0.4, nlist = 16)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id")),
      None),

    // ---- Token-budget selection ("best B tokens") ----------------------
    // quality-ordered cumulative token sum, two-phase (bucket prefix +
    // per-bucket window) — the oracle is the naive single-partition
    // global window, so the gate proves the distributed decomposition
    // equals the obvious plan.
    QueryDef(
      "q120_token_budget",
      (s, d) => {
        // r20 note: a call-site shared exchange (q144/q147's Finding-4
        // shape, `.repartition(col("doc_id"))` on f) was tried and
        // REVERTED — the executed plan's per-operator SQL metrics (as
        // graft.Plans dumps them) showed the runtime plan did NOT
        // stage-reuse it (the prefix-aggregate consumer and the join
        // consumer each re-planned their own copy of the exchange, so
        // the tokenize+quality chain still ran twice plus the new
        // exchange); same stage-cache canonicalization limit as the
        // capped Jaccard index.
        val f = TextAnalysis.docFeatures(docs(s, d), "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"),
            TextAnalysis.qualityScore(col("n_tokens"), col("n_distinct"),
              col("n_stop")).as("quality"))
        graft.pipeline.Curation.selectByTokenBudget(f, "doc_id",
            "n_tokens", "quality", budget = 20000L)
          .select(col("doc_id"), col("n_tokens"), col("quality"),
            col("cum_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(text, '\s+'),
                     t0 -> t0 <> '')) AS n_tokens,
                 len(list_distinct(list_filter(
                     regexp_split_to_array(text, '\s+'), t0 -> t0 <> '')))
                   AS n_distinct,
                 len(list_filter(list_filter(
                     regexp_split_to_array(text, '\s+'), t0 -> t0 <> ''),
                     t -> list_contains(['the','a','of','and','to','in','is'],
                       t))) AS n_stop
          FROM documents
        ), q AS (
          SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                 round(0.3 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
                     + 0.4 * (CAST(n_distinct AS DOUBLE)
                              / CAST(n_tokens AS DOUBLE))
                     + 0.3 * (1.0 - CAST(n_stop AS DOUBLE)
                              / CAST(n_tokens AS DOUBLE)),
                   6) AS quality
          FROM f
        ), c AS (
          SELECT doc_id, n_tokens, quality,
                 CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
          FROM q
        )
        SELECT doc_id, n_tokens, quality, cum_tokens
        FROM c WHERE cum_tokens <= 20000
        ORDER BY doc_id
      """)),

    // ---- DSIR importance weights ---------------------------------------
    // hashed unigram+bigram LM log-ratio of a target domain (src0-2)
    // against the whole corpus. All the hashing is md5-bucket math, so
    // the oracle replays the entire model bit-for-bit; the only double
    // drift is the ln() ulp, absorbed by round(4).
    QueryDef(
      "q121_dsir_scores",
      (s, d) => {
        val all = docs(s, d)
        val target = all.filter(col("source").isin("src0", "src1", "src2"))
        graft.pipeline.Curation.dsirScores(all, "doc_id", "text",
            target, "text", numBuckets = 1024, alpha = 1.0)
          .select(col("doc_id"), col("n_feats"),
            round(col("dsir_score"), 4).as("dsir_score"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             t0 -> t0 <> '') AS w
          FROM documents
        ), uni AS (
          SELECT doc_id, source, unnest(w) AS f FROM toks
        ), bi AS (
          SELECT doc_id, source, array_to_string(w[i:i+1], ' ') AS f
          FROM toks, unnest(range(1, len(w))) AS t(i)
          WHERE len(w) >= 2
        ), feats AS (
          SELECT doc_id, source,
                 CAST(CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT)
                   % 1024 AS BIGINT) AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        ), rawc AS (
          SELECT b, count(*) AS rc FROM feats GROUP BY b
        ), tgtc AS (
          SELECT b, count(*) AS tc FROM feats
          WHERE source IN ('src0', 'src1', 'src2') GROUP BY b
        ), m AS (
          SELECT COALESCE(r.b, t.b) AS b, COALESCE(rc, 0) AS rc,
                 COALESCE(tc, 0) AS tc
          FROM rawc r FULL JOIN tgtc t ON r.b = t.b
        ), tot AS (
          SELECT CAST(sum(rc) AS BIGINT) AS rtot,
                 CAST(sum(tc) AS BIGINT) AS ttot FROM m
        ), lr AS (
          SELECT b, ln((tc + 1.0) / (ttot + 1024.0))
                   - ln((rc + 1.0) / (rtot + 1024.0)) AS lr
          FROM m, tot WHERE rc > 0
        )
        SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               round(sum(l.lr), 4) AS dsir_score
        FROM feats f JOIN lr l USING (b)
        GROUP BY f.doc_id ORDER BY f.doc_id
      """)),

    // ---- Sketch-based corpus profile -----------------------------------
    // HLL distincts + mergeable quantiles: fixed-size aggregate state
    // per group regardless of corpus size — the 100 TB profiling form.
    // HLL bucket layouts are engine-specific -> rows-only; accuracy is
    // pinned vs the exact twins in PipelineSpec (<= 3*rsd rel. error,
    // quantiles inside the exact rank neighborhood).
    QueryDef(
      "q123_corpus_sketch",
      (s, d) => TextAnalysis.approxCorpusStats(docs(s, d), "doc_id",
          "text", Seq("lang"))
        .orderBy(col("lang")),
      None),

    // ---- Deterministic k-per-group sampling ----------------------------
    // smallest-k md5 coins per source; WindowGroupLimit keeps the
    // shuffle at ~k rows per (group, partition). Bit-for-bit oracled.
    QueryDef(
      "q124_sample_per_group",
      (s, d) => graft.pipeline.Curation.sampleKPerGroup(
          docs(s, d).select(col("doc_id"), col("source")),
          "doc_id", "source", k = 5, salt = "s124")
        .orderBy(col("source"), col("doc_id")),
      Some("""
        WITH u AS (
          SELECT doc_id, source,
                 CAST(CAST(concat('0x', substr(md5(concat('s124',
                   CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
                   / 4294967296.0 AS u
          FROM documents
        ), r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY u, doc_id) AS rn
          FROM u
        )
        SELECT doc_id, source FROM r WHERE rn <= 5
        ORDER BY source, doc_id
      """)),

    // ---- Incremental exact dedup (batch vs history) --------------------
    // a new batch (one-third fresh docs + replayed copies of history
    // and of itself) deduped against the historical fingerprint index:
    // in-batch keep-first, then anti-join on md5 — O(batch) work, the
    // historical text is never read. Oracled end-to-end.
    QueryDef(
      "q126_incremental_dedup",
      (s, d) => {
        val all = docs(s, d).select(col("doc_id"), col("text"))
        val old = all.filter(col("doc_id") % 3 =!= 0)
        val batch = all.filter(col("doc_id") % 3 === 0)
          .unionByName(all.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 200000).as("doc_id"), col("text")))
        val seen = old.select(md5(col("text")).as("fp"))
        Dedup.exactIncremental(batch, "doc_id", "text", seen, "fp")
          .select(col("doc_id"), col("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH old AS (
          SELECT text FROM documents WHERE doc_id % 3 <> 0
        ), batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 200000 AS doc_id, text FROM documents
          WHERE doc_id % 5 = 0
        ), fpd AS (
          SELECT doc_id, md5(text) AS fp FROM batch
        ), firsts AS (
          SELECT doc_id, fp,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM fpd
        )
        SELECT doc_id, fp FROM firsts
        WHERE rn = 1 AND fp NOT IN (SELECT md5(text) FROM old)
        ORDER BY doc_id
      """)),

    // ---- PQ ANN: asymmetric-distance codes + exact re-rank -------------
    // the memory-bound ANN path (codes are m bytes/vector, ~16x less
    // than the floats); ADC shortlists, true vectors re-rank. Float
    // k-means codebooks -> rows-only; recall pinned in PipelineSpec
    // (0.92 re-ranked vs exact on the fixture).
    QueryDef(
      "q136_ann_pq",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        // train once per scale (setup, like the scratch tables): a
        // production PQ index trains once and serves every query
        // batch after — the measured operator is the SEARCH
        val books = Scratch.setupOnce("q136_books", d) {
          Similarity.pqCodebooks(emb, "vec_id", "embedding",
            m = 16, k = 32, iters = 3)
        }
        Similarity.cosineTopKPq(emb, queries, "vec_id", "embedding",
            k = 5, m = 16, codebookK = 32, iters = 3,
            trainedBooks = Some(books))
          .select(col("query_id"), col("neighbor_id"),
            round(col("sim"), 2).as("sim"))
          .orderBy(col("query_id"), col("neighbor_id"))
      },
      None),

    // ---- IVF-PQ ANN: cell restriction x byte-bounded comparisons -------
    // the production composition: IVF bounds comparison COUNT
    // (~nprobe/nlist of the corpus), PQ bounds comparison BYTES
    // (m codes, not floats), exact re-rank on the shortlist. Float
    // k-means -> rows-only; PipelineSpec pins full-probe == plain PQ
    // exactly plus probed recall (0.70 at nprobe=4/8).
    QueryDef(
      "q137_ann_ivfpq",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        // same train-once contract as q136, for both models
        val (coarse, books) = Scratch.setupOnce("q137_models", d) {
          (Similarity.ivfCodebook(emb, "vec_id", "embedding",
            nlist = 8, iters = 3),
            Similarity.pqCodebooks(emb, "vec_id", "embedding",
              m = 16, k = 32, iters = 3))
        }
        Similarity.cosineTopKIvfPq(emb, queries, "vec_id", "embedding",
            k = 5, nlist = 8, nprobe = 4, m = 16, codebookK = 32,
            iters = 3, trainedCoarse = Some(coarse),
            trainedBooks = Some(books))
          .select(col("query_id"), col("neighbor_id"),
            round(col("sim"), 2).as("sim"))
          .orderBy(col("query_id"), col("neighbor_id"))
      },
      None),

    // ---- Incremental embedding near-dup (batch vs index) ---------------
    // the vector twin of q127: the batch probes yesterday's hyperplane
    // bucket + vector index relations. Hyperplane signs -> rows-only;
    // PipelineSpec pins it EQUAL to the full nearDupEmbeddingLsh run
    // restricted to batch-touching pairs.
    QueryDef(
      "q135_incremental_embedding_dup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val hist = emb.filter(col("vec_id") % 2 === 0)
        val batch = emb.filter(col("vec_id") % 2 =!= 0)
        // persisted-index contract, same as q127: the bucket + vector
        // relations are stored tables in production; the measured
        // operator is the batch probe
        val (bktP, vecP) = Scratch.setupOnce("q135_idx", d) {
          val p1 = Scratch.dir("embbkt"); val p2 = Scratch.dir("embvec")
          Dedup.embeddingBucketIndex(hist, "vec_id", "embedding")
            .write.mode("overwrite").parquet(p1)
          Dedup.vectorIndex(hist, "vec_id", "embedding").write.mode("overwrite").parquet(p2)
          (p1, p2)
        }
        Dedup.nearDupEmbeddingIncremental(batch, "vec_id", "embedding",
            s.read.parquet(bktP), s.read.parquet(vecP),
            threshold = 0.4)
          .select(col("id1"), col("id2"), round(col("sim"), 2).as("sim"))
          .orderBy(col("id1"), col("id2"))
      },
      None),

    // ---- Incremental MinHash near-dup (batch vs index) -----------------
    // the fuzzy twin of q126: the batch probes yesterday's band +
    // shingle index relations, never re-hashing history. xxhash64
    // family -> rows-only; PipelineSpec pins it EQUAL to the full
    // nearDupMinhashLsh run restricted to batch-touching pairs.
    QueryDef(
      "q127_incremental_near_dup",
      (s, d) => {
        val all = nearDupCorpus(s, d)
        val hist = all.filter(col("doc_id") < 100000)
        val batch = all.filter(col("doc_id") >= 100000)
        // the index relations are PERSISTED in production (that is the
        // point of the incremental family — StreamingSpec composes the
        // stored form); build them once per scale as setup and measure
        // the batch PROBE against the materialized parquet
        val (bandP, shP) = Scratch.setupOnce("q127_idx", d) {
          val p1 = Scratch.dir("bandidx"); val p2 = Scratch.dir("shidx")
          Dedup.bandIndex(hist, "doc_id", "text").write.mode("overwrite").parquet(p1)
          Dedup.shingleIndex(hist, "doc_id", "text").write.mode("overwrite").parquet(p2)
          (p1, p2)
        }
        Dedup.nearDupMinhashIncremental(batch, "doc_id", "text",
            s.read.parquet(bandP), s.read.parquet(shP))
          .select(col("id1"), col("id2"),
            round(col("jaccard"), 2).as("jaccard"))
          .orderBy(col("id1"), col("id2"))
      },
      None),

    // ---- Context-window chunking ---------------------------------------
    // pre-training/RAG preparation: stride-spaced 64-token windows with
    // 16-token overlap. Zero-shuffle projection + posexplode; the
    // oracle spells the same windows via range() + list_slice, pinning
    // the window-count arithmetic and the boundary tokens exactly.
    QueryDef(
      "q138_chunking",
      (s, d) => TextAnalysis.chunkDocuments(docs(s, d), "doc_id", "text",
          chunkTokens = 64, overlapTokens = 16)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ), s AS (
          SELECT doc_id, toks,
                 CASE WHEN coalesce(len(toks), 0) <= 0 THEN 0
                      ELSE 1 + CAST(floor(
                        (greatest(len(toks) - 64, 0) + 47) / 48.0) AS BIGINT)
                 END AS n_chunks
          FROM t
        ), c AS (
          SELECT doc_id, toks,
                 CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_id
          FROM s
        )
        SELECT doc_id, chunk_id,
               CAST(chunk_id * 48 AS INT) AS start_token,
               CAST(len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64))
                    AS INT) AS n_chunk_tokens,
               array_to_string(
                 list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64),
                 ' ') AS chunk_text
        FROM c
        ORDER BY doc_id, chunk_id
      """)),

    // ---- LM fluency scoring (CCNet-style) ------------------------------
    // mean negative log-likelihood under a hashed-bigram multinomial
    // trained on the src0-src2 reference slice — the absolute-quality
    // axis next to q121's relative DSIR weights. Same hashed feature
    // space as q121, so the oracle reuses its feats CTE shape.
    QueryDef(
      "q142_lm_fluency",
      (s, d) => {
        val all = docs(s, d)
        val ref = all.filter(col("source").isin("src0", "src1", "src2"))
        graft.pipeline.Curation.lmScores(all, "doc_id", "text",
            ref, "text", numBuckets = 1024, alpha = 1.0)
          .select(col("doc_id"), col("n_feats"),
            round(col("nll"), 4).as("nll"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             t0 -> t0 <> '') AS w
          FROM documents
        ), uni AS (
          SELECT doc_id, source, unnest(w) AS f FROM toks
        ), bi AS (
          SELECT doc_id, source, array_to_string(w[i:i+1], ' ') AS f
          FROM toks, unnest(range(1, len(w))) AS t(i)
          WHERE len(w) >= 2
        ), feats AS (
          SELECT doc_id, source,
                 CAST(CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT)
                   % 1024 AS BIGINT) AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        ), refc AS (
          SELECT b, count(*) AS rc FROM feats
          WHERE source IN ('src0', 'src1', 'src2') GROUP BY b
        ), model AS (
          SELECT g.b, coalesce(rc, 0) AS rc,
                 (SELECT coalesce(sum(rc), 0) FROM refc) AS tot
          FROM (SELECT unnest(range(0, 1024)) AS b) g
          LEFT JOIN refc USING (b)
        ), lp AS (
          SELECT b, -ln((rc + 1.0) / (tot + 1024.0)) AS nlp FROM model
        )
        SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               round(avg(nlp), 4) AS nll
        FROM feats f JOIN lp USING (b)
        GROUP BY f.doc_id
        ORDER BY f.doc_id
      """)),

    // ---- Perplexity filtering per language (CCNet's pipeline) ----------
    // the composition the two operators exist for: bucket each doc's
    // LM fluency into integer deciles, keep the most-fluent half PER
    // LANGUAGE via the histogram quality cut. The oracle recomputes
    // the whole chain with the naive window, so the gate covers the
    // composition end to end.
    QueryDef(
      "q144_perplexity_filter",
      (s, d) => {
        val all = docs(s, d)
        val ref = all.filter(col("source").isin("src0", "src1", "src2"))
        val scored = graft.pipeline.Curation
          .lmScores(all, "doc_id", "text", ref, "text",
            numBuckets = 1024, alpha = 1.0)
          .join(all.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("fluency",
            (-floor(col("nll") * 10)).cast("int"))
        // one narrow exchange shared by the cut's three consumers
        // (histogram, full-admission filter, tie ranking) — without it
        // the whole lmScores chain re-evaluates once per consumer
        // (duplicated subtrees, guide §7.2). (doc_id, lang, fluency)
        // rows are ~20 bytes; at any scale exchanging them once beats
        // re-deriving the hashed-feature scoring twice more.
        graft.pipeline.Curation.topPercentPerStratum(
            scored.repartition(col("doc_id")), "doc_id",
            "lang", "fluency", percent = 50)
          .select(col("doc_id"), col("lang"), col("fluency"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             t0 -> t0 <> '') AS w
          FROM documents
        ), uni AS (
          SELECT doc_id, source, unnest(w) AS f FROM toks
        ), bi AS (
          SELECT doc_id, source, array_to_string(w[i:i+1], ' ') AS f
          FROM toks, unnest(range(1, len(w))) AS t(i)
          WHERE len(w) >= 2
        ), feats AS (
          SELECT doc_id, source,
                 CAST(CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT)
                   % 1024 AS BIGINT) AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        ), refc AS (
          SELECT b, count(*) AS rc FROM feats
          WHERE source IN ('src0', 'src1', 'src2') GROUP BY b
        ), model AS (
          SELECT g.b, coalesce(rc, 0) AS rc,
                 (SELECT coalesce(sum(rc), 0) FROM refc) AS tot
          FROM (SELECT unnest(range(0, 1024)) AS b) g
          LEFT JOIN refc USING (b)
        ), lp AS (
          SELECT b, -ln((rc + 1.0) / (tot + 1024.0)) AS nlp FROM model
        ), doc_nll AS (
          SELECT f.doc_id,
                 CAST(-floor(avg(nlp) * 10) AS INT) AS fluency
          FROM feats f JOIN lp USING (b) GROUP BY f.doc_id
        ), ranked AS (
          SELECT d.doc_id, d.lang, fluency,
                 row_number() OVER (PARTITION BY d.lang
                   ORDER BY fluency DESC, d.doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY d.lang) AS n
          FROM documents d JOIN doc_nll USING (doc_id)
        )
        SELECT doc_id, lang, fluency FROM ranked
        WHERE rn <= (n * 50 + 99) // 100
        ORDER BY lang, doc_id
      """)),

    // ---- Perplexity filter, production hash ----------------------------
    // q144's chain with portableHash=false: n-gram buckets come from
    // xxhash64 instead of the md5 hex round-trip DuckDB can reproduce.
    // No oracle for the same reason as the MinHash family (q42/q43);
    // the rank-behavior equivalence of the two hash paths is pinned in
    // PipelineSpec, and this entry exists to BENCH the path a
    // production run would take (the md5 string work is most of
    // q142/q144's cost).
    QueryDef(
      "q147_perplexity_fast",
      (s, d) => {
        val all = docs(s, d)
        val ref = all.filter(col("source").isin("src0", "src1", "src2"))
        val scored = graft.pipeline.Curation
          .lmScores(all, "doc_id", "text", ref, "text",
            numBuckets = 1024, alpha = 1.0, portableHash = false)
          .join(all.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("fluency",
            (-floor(col("nll") * 10)).cast("int"))
        // same shared-exchange treatment as q144 (three consumers)
        graft.pipeline.Curation.topPercentPerStratum(
            scored.repartition(col("doc_id")), "doc_id",
            "lang", "fluency", percent = 50)
          .select(col("doc_id"), col("lang"), col("fluency"))
          .orderBy(col("lang"), col("doc_id"))
      },
      None),

    // ---- Per-stratum quality cut ---------------------------------------
    // keep the top 30% of documents per language by n_chars (the
    // integer stand-in for a classifier score). The implementation is
    // the histogram+threshold plan (never ranks the corpus); the
    // oracle is the naive per-stratum row_number spelling, so the gate
    // is exactly "the skew-free plan equals the obvious one",
    // including id-ordered tie admission at the threshold score.
    QueryDef(
      "q139_quality_cut",
      (s, d) => graft.pipeline.Curation.topPercentPerStratum(
          Tables.documents(s, d), "doc_id", "lang", "n_chars", percent = 30)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id")),
      Some("""
        WITH ranked AS (
          SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY n_chars DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM documents
        )
        SELECT doc_id, lang, n_chars
        FROM ranked
        WHERE rn <= (n * 30 + 99) // 100
        ORDER BY lang, doc_id
      """)),

    // Byte-level BPE token counting (BpeExpressions): the public
    // algorithm — GPT-2 byte-to-unicode alphabet, published
    // pre-tokenizer regex, lowest-rank-pair merge loop — over a
    // pluggable merges table. The fixture uses the 2-merge vocabulary
    // {a b, ab c}; every expected count is hand-derivable (e.g.
    // "abc abc" → pre-tokens ["abc", " abc"] → [abc] + [Ġ, abc] = 3)
    // and the oracle carries them as literals, so the gate pins the
    // merge loop, the pre-tokenizer (contractions, digit runs,
    // punctuation, trailing-space handling), and the byte alphabet.
    // PipelineSpec pins the byte-exact detokenize round-trip on the
    // real corpus.
    QueryDef(
      "q156_bpe_token_count",
      (s, d) => {
        import s.implicits._
        val vocab = graft.functions.BpeExpressions.BpeRanks
          .parseMerges(Seq("a" -> "b", "ab" -> "c"))
        val fixture = Seq(
          (1, "abc"), (2, "abcabc"), (3, "abc abc"), (4, "cab"),
          (5, "ab!"), (6, "b a"), (7, "ab12"), (8, "ab "),
          (9, "it's abc"), (10, "")).toDF("id", "text")
        fixture.select(col("id"),
          graft.functions.BpeExpressions.bpeTokenCount(col("text"), vocab)
            .as("n_tokens"))
          .orderBy(col("id"))
      },
      // expected, by hand: abc→1 ([abc]); abcabc→2 ([abc,abc]);
      // "abc abc"→3 ([abc] + [Ġ,abc] — no (Ġ,abc) merge); cab→2
      // ([c,ab]); "ab!"→2 ([ab] + [!]); "b a"→3 ([b] + [Ġ,a]);
      // ab12→3 ([ab] + [1,2] — digits never merge here); "ab "→2
      // ([ab] + [Ġ] via the trailing-whitespace branch); "it's abc"→6
      // ([i,t] + [',s] — 's is its own pre-token but has no merge —
      // + [Ġ,abc]); ""→0
      Some("""
        SELECT id, n_tokens FROM (VALUES
          (1, 1), (2, 2), (3, 3), (4, 2), (5, 2),
          (6, 3), (7, 3), (8, 2), (9, 6), (10, 0))
          AS t(id, n_tokens)
        ORDER BY id
      """))
  )
}
