package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, TextAnalysis}

/**
 * Training-data-pipeline query set over the `documents` corpus:
 * deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash), text
 * statistics, language ID and fingerprints. SQL-expressible variants
 * carry DuckDB oracles; the sketch-based ones (MinHash/SimHash) are
 * checked against exact Jaccard in ScalaTest instead and get the
 * driver's rows-only check.
 */
object TextQueries {

  /** DuckDB replay of [[Dedup.md5Hash60]]: parse the first 15 hex digits
    * of md5(`c`) into a BIGINT (both engines hash the same UTF-8 bytes,
    * so the values are bit-identical). Shared with the q114 composite
    * oracle in [[VectorQueries]]. */
  private[queries] def md5Hash60Sql(c: String): String =
    s"list_reduce([CAST(strpos('0123456789abcdef', substr(md5($c), j, 1)) - 1" +
      s" AS BIGINT) for j in generate_series(1, 15)], (acc, d) -> acc*16 + d)"

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q30_dedup_exact",
      (s, dir) => Dedup.exactGroups(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1"""),
      "exact dedup via content-hash groupBy"),

    QuerySpec("q31_text_stats",
      (s, dir) => Tables.load(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.avgTokenLen(col("text")).as("avg_token_len")),
      Some("""
        SELECT doc_id,
          CAST(length(text) AS INTEGER) AS len_chars,
          CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS n_tokens,
          CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INTEGER) AS n_punct,
          CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) = 0 THEN NULL
               ELSE CAST(length(replace(text, ' ', '')) AS DOUBLE)
                    / len(list_filter(string_split(text, ' '), t -> t <> ''))
          END AS avg_token_len
        FROM documents"""),
      "per-document quality stats (length/tokens/punctuation)"),

    QuerySpec("q32_lang_id",
      (s, dir) => Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langHits(col("text"), "en").as("en_hits"),
        TextAnalysis.langId(col("text")).as("predicted_lang")),
      Some("""
        WITH h AS (
          SELECT doc_id,
            CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','and','is','of','to','in','that'))) AS INTEGER) AS en,
            CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','que','y','los'))) AS INTEGER) AS es,
            CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das','nicht'))) AS INTEGER) AS de,
            CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','les','des','et','du','une'))) AS INTEGER) AS fr
          FROM documents)
        SELECT doc_id, en AS en_hits,
          CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
               WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
               WHEN de >= fr AND de > 0 THEN 'de'
               WHEN fr > 0 THEN 'fr'
               ELSE 'und' END AS predicted_lang
        FROM h"""),
      "marker-based language ID (n-gram-profile shape)"),

    QuerySpec("q33_fingerprint",
      (s, dir) => Tables.load(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint")),
      Some("""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents"""),
      "normalized content fingerprint"),

    QuerySpec("q34_ngram_jaccard",
      (s, dir) => Dedup.jaccardPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 3,
        threshold = 0.3),
      Some("""
        WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                                  for i in generate_series(1, len(tokens)-2)])) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= CAST(0.3 AS DOUBLE)"""),
      "exact 3-gram Jaccard near-dup pairs (shingle join)"),

    QuerySpec("q35_near_dedup",
      (s, dir) => Dedup.nearDedupKeep(
          Tables.load(s, dir, "documents"), "doc_id", "text", n = 3,
          threshold = 0.9)
        .select(col("doc_id"), col("source")),
      Some("""
        WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                                  for i in generate_series(1, len(tokens)-2)])) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        drops AS (
          SELECT DISTINCT doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= CAST(0.9 AS DOUBLE))
        SELECT doc_id, source FROM documents
        WHERE doc_id NOT IN (SELECT doc_b FROM drops)"""),
      "near-dedup survivors: drop higher-id member of each ≥0.9 pair"),

    // driver-oracled: md5-based base hash + the SQL-portable parameter
    // schedule let DuckDB regenerate the exact signatures; band collision
    // is replayed as slice equality (engine band hashes are injective up
    // to 2^-64 xxhash collisions on 8-long slices)
    QuerySpec("q36_minhash_candidates",
      (s, dir) => Dedup.minHashCandidates(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 64, bands = 8, baseHash = Some(Dedup.md5Hash60))
        .filter(col("est_jaccard") >= 0.5),
      Some(s"""
        WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks)-2)])) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        hx AS (
          SELECT doc_id, ${md5Hash60Sql("s")} % 2147483647 AS x FROM sh),
        params AS (
          SELECT i,
            ((i + 43) * 2654435761) % 2147483646 + 1 AS a,
            CAST(((i + 43)::HUGEINT * 1229782938247303441)
                 % 2305843009213693951 AS BIGINT) AS b
          FROM generate_series(0, 63) t(i)),
        mins AS (
          SELECT doc_id, i, min((x * a + b) % 2305843009213693951) AS m
          FROM hx CROSS JOIN params GROUP BY doc_id, i),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sg FROM mins GROUP BY doc_id),
        banded AS (
          SELECT doc_id, band, sg[band*8+1 : band*8+8] AS slc
          FROM sig CROSS JOIN generate_series(0, 7) g(band)),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.slc = y.slc AND x.doc_id < y.doc_id),
        est AS (
          SELECT doc_a, doc_b,
            CAST(len(list_filter([sa.sg[i] = sb.sg[i]
                                  for i in generate_series(1, 64)],
                                 z -> z)) AS DOUBLE) / 64 AS est_jaccard
          FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
                    JOIN sig sb ON sb.doc_id = cand.doc_b)
        SELECT doc_a, doc_b, est_jaccard FROM est
        WHERE est_jaccard >= CAST(0.5 AS DOUBLE)"""),
      "MinHash(64)+LSH(8 bands of 8) candidates — the 100 TB near-dup path. " +
        "8-row bands keep hot-bucket collisions at J^8, which survives " +
        "skewed corpora where 4-row bands explode."),

    QuerySpec("q39_dup_clusters",
      (s, dir) => Dedup.duplicateClusters(
        Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.8)
          .select(col("doc_a"), col("doc_b"))),
      // oracle: same pair list (q34 formulation at t=0.8), then connected
      // components as a recursive transitive closure — min reachable id
      // per node ≡ the engine's min-label fixpoint
      Some("""
        WITH RECURSIVE sh AS (
          SELECT doc_id,
            unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                                  for i in generate_series(1, len(tokens)-2)])) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= CAST(0.8 AS DOUBLE)),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, reach) AS (
          SELECT src, src FROM edges
          UNION
          SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
        SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node"""),
      "connected-component duplicate clusters from near-dup pairs " +
        "(iterative min-label propagation)"),

    QuerySpec("q37_simhash",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          transform(TextAnalysis.tokens(col("text")), t => Dedup.md5Hash60(t))
            .as("th"))
        .select(col("doc_id"), Dedup.simHash64OfHashes(col("th")).as("simhash")),
      // bits 60-63 of a 60-bit base hash always vote negative, so the
      // oracle only materializes votes for bits 0-59
      Some(s"""
        WITH th AS (
          SELECT doc_id, ${md5Hash60Sql("t")} AS hv
          FROM (SELECT doc_id,
                  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
                FROM documents)),
        votes AS (
          SELECT doc_id, i,
                 sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM th CROSS JOIN generate_series(0, 59) g(i)
          GROUP BY doc_id, i),
        sigs AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)
                   AS BIGINT) AS simhash
          FROM votes GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(s.simhash,
                 CASE WHEN d.text IS NOT NULL THEN CAST(0 AS BIGINT) END)
                 AS simhash
        FROM documents d LEFT JOIN sigs s ON s.doc_id = d.doc_id"""),
      "64-bit SimHash signatures for Hamming-distance near-dup"),

    QuerySpec("q38_rolling_fingerprint",
      (s, dir) => Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.rollingHash(col("text"), Dedup.md5Hash60)
          .as("rolling_hash")),
      Some(s"""
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              [ ${md5Hash60Sql("t")} % 1000000007
                for t in list_filter(string_split(text, ' '), x -> x <> '') ]),
            (acc, hv) -> (acc * 31 + hv) % 1000000007) AS rolling_hash
        FROM documents"""),
      "order-sensitive rolling token hash"),

    QuerySpec("q64_quality_signals",
      (s, dir) => Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.typeTokenRatio(col("text")).as("type_token_ratio"),
        TextAnalysis.symbolRatio(col("text")).as("symbol_ratio")),
      Some("""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id,
          CASE WHEN len(toks) > 0 THEN
            CAST(len(list_filter(toks, x -> x IN ('the','and','is','of','to','in','that'))) AS DOUBLE) / len(toks)
          END AS stopword_ratio,
          CASE WHEN len(toks) > 0 THEN
            CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
          END AS type_token_ratio,
          CASE WHEN length(text) > 0 THEN
            CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
          END AS symbol_ratio
        FROM t"""),
      "Gopher/C4-style per-document quality gates: stopword density, " +
        "lexical diversity, symbol load — pure per-row expressions"),

    QuerySpec("q65_pii_scrub",
      (s, dir) => Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.maskPii(concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@mail.example.com or +62 21 5550"), col("doc_id"),
          lit(" at https://ex.example.org/d/"), col("doc_id")))
          .as("clean_text")),
      Some("""
        SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                text || ' contact user' || doc_id || '@mail.example.com or +62 21 5550'
                     || doc_id || ' at https://ex.example.org/d/' || doc_id,
                'https?://[^ ]+', '<URL>', 'g'),
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
        FROM documents"""),
      "PII scrubbing (URL → email → phone masking, RE2-safe regex " +
        "subset) over synthetically injected contact strings"),

    QuerySpec("q66_vocabulary",
      (s, dir) => graft.operators.CorpusStats.vocabulary(
        Tables.load(s, dir, "documents"), "doc_id", "text", minDf = 2),
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
          FROM documents)
        SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf
        FROM toks GROUP BY token HAVING count(DISTINCT doc_id) >= 2"""),
      "corpus vocabulary with document + term frequency (single shuffle " +
        "on the token, map-side partials, df>=2 hapax pruning)"),

    QuerySpec("q67_top_ngram",
      (s, dir) => graft.operators.CorpusStats.topNgramFraction(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 2),
      Some("""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents),
        counts AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens FROM base),
        grams AS (
          SELECT doc_id,
                 unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS gram
          FROM base),
        gc AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
        top AS (SELECT doc_id, max(cnt) AS top_gram_count FROM gc GROUP BY 1)
        SELECT c.doc_id, c.n_tokens, t.top_gram_count,
               CAST(t.top_gram_count * 2 AS DOUBLE) / c.n_tokens AS top_ngram_fraction
        FROM counts c LEFT JOIN top t USING (doc_id)"""),
      "Gopher repetition score: fraction of tokens covered by the most " +
        "frequent 2-gram (explode + two partial-merged aggregations)"),

    QuerySpec("q68_token_estimate",
      (s, dir) => Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenEstimate(col("text")).as("est_tokens")),
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS INTEGER) AS est_tokens
        FROM documents"""),
      "LLM token-count estimate via a GPT-2-style pre-tokenizer regex " +
        "(RE2-safe subset) — the per-document token budgeting pass"),

    QuerySpec("q69_hash_split",
      (s, dir) => graft.operators.CorpusStats.hashSplit(
          Tables.load(s, dir, "documents"), "doc_id", 0.25, salt = "train")
        .select(col("doc_id"), col("source")),
      Some("""
        SELECT doc_id, source FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR) || 'train')
              < '40000000ffffffffffffffffffffffff'"""),
      "deterministic hash-based train split (25%): per-row md5 " +
        "threshold predicate — pushable filter, no shuffle, no RNG state"),

    QuerySpec("q71_contamination",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.operators.CorpusStats.contamination(
          docs, "doc_id", "text",
          probes = docs.filter(col("doc_id") % 50 === 0), "text", n = 8)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        dg AS (
          SELECT doc_id,
            unnest(list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]
                                  for i in generate_series(1, len(t)-7)])) AS g
          FROM toks),
        pg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 50 = 0)
        SELECT d.doc_id, count(*) AS n_shared_grams
        FROM dg d JOIN pg USING (g)
        GROUP BY d.doc_id"""),
      "benchmark-contamination scan: corpus docs sharing any 8-gram " +
        "with the probe set (gram-keyed join, probe side broadcasts)"),

    QuerySpec("q72_tfidf_top",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = graft.operators.CorpusStats.tfIdf(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("token"))
        // the REPORTED score is rounded to 9 decimals: ln() differs by
        // 1 ULP between JVM Math.log and DuckDB's libm, which is noise
        // for ranking (full precision still drives the window order)
        // but breaks an exact cross-engine hash compare
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("token").as("top_term"),
            col("tf"), col("df"), round(col("tfidf"), 9).as("top_tfidf"))
      },
      Some("""
        WITH tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM (SELECT doc_id,
                  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
                FROM documents)
          GROUP BY doc_id, token),
        dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        s AS (
          SELECT doc_id, token, tf, df,
                 tf * (ln((n_docs + 1) / (df + 1)) + 1) AS tfidf
          FROM tf JOIN dfx USING (token) CROSS JOIN n)
        SELECT doc_id, token AS top_term, tf, df, round(tfidf, 9) AS top_tfidf
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, token) AS rn FROM s)
        WHERE rn = 1"""),
      "smoothed TF-IDF (sklearn idf) with the corpus size joined in " +
        "declaratively; top-scoring term per document"),

    QuerySpec("q73_sequence_packing",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
          col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
        graft.operators.CorpusStats.sequencePacking(
          docs, "doc_id", "n_tok", "source", budget = 512)
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source,
            CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents)
        SELECT doc_id, source AS shard, n_tok,
          CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_tok,
          CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok) // 512 AS BIGINT) AS start_chunk,
          CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - 1) // 512 AS BIGINT) AS end_chunk
        FROM d"""),
      "LLM sequence packing (concat-and-chunk): per-shard running token " +
        "sum cut into 512-token chunks; windows parallelize across shards"),

    QuerySpec("q74_weighted_sample",
      (s, dir) => graft.operators.CorpusStats.weightedSample(
          Tables.load(s, dir, "documents"), "doc_id", "source",
          weights = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultFraction = 0.1, salt = "mix")
        .select(col("doc_id"), col("source")),
      Some("""
        SELECT doc_id, source FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR) || 'mix') <
          CASE source
            WHEN 'src0' THEN 'g'
            WHEN 'src1' THEN '80000000ffffffffffffffffffffffff'
            WHEN 'src2' THEN '40000000ffffffffffffffffffffffff'
            ELSE '1999999affffffffffffffffffffffff' END"""),
      "deterministic domain mixing: per-source keep fractions via md5 " +
        "thresholds — pure pushable predicate, exactly reproducible"),

    QuerySpec("q75_curation_pipeline",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // the full assembly flow: quality gate → exact dedup → split
        val quality = Tables.load(s, dir, "documents")
          .filter(TextAnalysis.stopwordRatio(col("text")) >= 0.05 &&
            TextAnalysis.typeTokenRatio(col("text")) >= 0.3)
        val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
        val deduped = quality
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        graft.operators.CorpusStats.hashSplit(deduped, "doc_id", 0.5, "train")
          .select(col("doc_id"), col("source"))
      },
      Some("""
        WITH q AS (
          SELECT doc_id, source, text,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, source,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          FROM q
          WHERE (CASE WHEN len(toks) > 0 THEN
                   CAST(len(list_filter(toks, x -> x IN ('the','and','is','of','to','in','that'))) AS DOUBLE) / len(toks)
                 END) >= CAST(0.05 AS DOUBLE)
            AND (CASE WHEN len(toks) > 0 THEN
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 END) >= CAST(0.3 AS DOUBLE)),
        d AS (
          SELECT doc_id, source FROM (
            SELECT g.*, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM g) WHERE rn = 1)
        SELECT doc_id, source FROM d
        WHERE md5(CAST(doc_id AS VARCHAR) || 'train')
              < '80000000ffffffffffffffffffffffff'"""),
      "end-to-end corpus curation: quality gate → exact dedup " +
        "(fingerprint keep-first) → 50% hash split, composed from the " +
        "engine's own operators"),

    QuerySpec("q78_nfc_normalize",
      (s, dir) => {
        // inject decomposed (NFD) sequences so normalization visibly
        // recomposes: "cafe" + U+0301 → "café", "nai" + U+0308 + "ve"
        // → "naïve"
        val raw = concat(col("text"), lit(" cafe\u0301 nai\u0308ve"))
        Tables.load(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.normalizeNfc(raw).as("clean_text"),
          length(raw).cast("int").as("n_chars_raw"),
          length(TextAnalysis.normalizeNfc(raw)).cast("int")
            .as("n_chars_nfc"))
      },
      Some("""
        WITH r AS (
          SELECT doc_id,
                 text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw
          FROM documents)
        SELECT doc_id, nfc_normalize(raw) AS clean_text,
               CAST(length(raw) AS INTEGER) AS n_chars_raw,
               CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_chars_nfc
        FROM r"""),
      "Unicode NFC normalization (custom codegen'd expression, ASCII " +
        "fast path) — combining sequences recompose before dedup keys"),

    QuerySpec("q79_training_mix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // the full assembly line: quality gate → exact dedup → domain
        // mix → token budgeting → sequence packing, every stage one of
        // the engine's own operators
        val quality = Tables.load(s, dir, "documents")
          .filter(TextAnalysis.stopwordRatio(col("text")) >= 0.05 &&
            TextAnalysis.typeTokenRatio(col("text")) >= 0.3)
        val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
        val deduped = quality
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val mixed = graft.operators.CorpusStats.weightedSample(
          deduped, "doc_id", "source",
          weights = Map("src0" -> 1.0, "src1" -> 0.5),
          defaultFraction = 0.25, salt = "mix2")
        graft.operators.CorpusStats.sequencePacking(
          mixed.select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")),
          "doc_id", "n_tok", "source", budget = 256)
      },
      Some("""
        WITH q AS (
          SELECT doc_id, source, text,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, source, toks,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          FROM q
          WHERE (CASE WHEN len(toks) > 0 THEN
                   CAST(len(list_filter(toks, x -> x IN ('the','and','is','of','to','in','that'))) AS DOUBLE) / len(toks)
                 END) >= CAST(0.05 AS DOUBLE)
            AND (CASE WHEN len(toks) > 0 THEN
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 END) >= CAST(0.3 AS DOUBLE)),
        d AS (
          SELECT doc_id, source, toks FROM (
            SELECT g.*, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM g) WHERE rn = 1),
        m AS (
          SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok
          FROM d
          WHERE md5(CAST(doc_id AS VARCHAR) || 'mix2') <
            CASE source
              WHEN 'src0' THEN 'g'
              WHEN 'src1' THEN '80000000ffffffffffffffffffffffff'
              ELSE '40000000ffffffffffffffffffffffff' END)
        SELECT doc_id, source AS shard, n_tok,
          CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_tok,
          CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok) // 256 AS BIGINT) AS start_chunk,
          CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - 1) // 256 AS BIGINT) AS end_chunk
        FROM m"""),
      "the complete training-mix assembly: quality gate → exact dedup → " +
        "per-source mixing → token budgeting → 256-token sequence packing"),

    QuerySpec("q83_unigram_nll",
      (s, dir) => graft.operators.CorpusStats.unigramCrossEntropy(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
          FROM documents),
        tf AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM tf),
        scored AS (
          SELECT doc_id,
                 CAST(floor((ln(CAST(n_total AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
                            * 1e6 + 0.5) AS BIGINT) AS nll_micros
          FROM tok JOIN tf USING (token) CROSS JOIN tot)
        SELECT doc_id, count(*) AS n_tokens_scored,
               CAST(sum(nll_micros) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                 AS avg_nll
        FROM scored GROUP BY doc_id"""),
      "CCNet-shape LM quality score: per-document mean negative " +
        "log-likelihood under the corpus unigram distribution (per-token " +
        "nll quantized to integer micro-nats via floor(x*1e6+0.5), " +
        "BIGINT-summed — order- and engine-independent)"),

    QuerySpec("q84_c4_line_filter",
      (s, dir) => {
        // the corpus text is punctuation-free word soup, so synthesize a
        // 4-line document with known shapes: a prose line (lorem-ipsum
        // flavored on every 5th doc), a too-short line, an unterminated
        // line, and a boilerplate/code line on every 3rd doc — the gate
        // and both document flags visibly fire
        val t = graft.operators.TextAnalysis
        val raw = concat_ws("\n",
          when(col("doc_id") % 5 === 0, lit("Lorem ipsum dolor sit amet."))
            .otherwise(concat(substring(col("text"), 1, 40), lit("."))),
          lit("Too short."),
          substring(col("text"), 41, 30),
          when(col("doc_id") % 3 === 0, lit("javascript required {"))
            .otherwise(concat(substring(col("text"), 71, 25), lit("!"))))
        Tables.load(s, dir, "documents").select(
          col("doc_id"),
          size(t.lines(raw)).cast("int").as("n_lines"),
          size(t.c4KeptLines(raw)).cast("int").as("n_kept_lines"),
          t.c4CleanText(raw).as("clean_text"),
          t.hasLoremIpsum(raw).as("has_lorem"),
          t.hasCodeBrace(raw).as("has_brace"))
      },
      Some("""
        WITH r AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN 'Lorem ipsum dolor sit amet.'
                      ELSE substring(text, 1, 40) || '.' END || chr(10) ||
                 'Too short.' || chr(10) ||
                 substring(text, 41, 30) || chr(10) ||
                 CASE WHEN doc_id % 3 = 0 THEN 'javascript required {'
                      ELSE substring(text, 71, 25) || '!' END AS raw
          FROM documents),
        l AS (
          SELECT doc_id, raw, string_split(raw, chr(10)) AS ls FROM r),
        k AS (
          SELECT doc_id, raw, ls,
                 list_filter(ls, x ->
                   len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3
                   AND regexp_matches(x, '[.!?"]$')
                   AND NOT contains(lower(x), 'javascript')) AS kept
          FROM l)
        SELECT doc_id,
               CAST(len(ls) AS INTEGER) AS n_lines,
               CAST(len(kept) AS INTEGER) AS n_kept_lines,
               coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
               contains(lower(raw), 'lorem ipsum') AS has_lorem,
               contains(raw, '{') AS has_brace
        FROM k"""),
      "C4 line-level cleaning (Raffel et al. 2020 §2.2): keep prose " +
        "lines (≥3 words, terminal punctuation, no boilerplate marker), " +
        "flag lorem-ipsum/code-brace documents — pure per-row arrays, " +
        "no shuffle"),

    QuerySpec("q86_url_canonical",
      (s, dir) => {
        val t = graft.operators.TextAnalysis
        // synthetic URLs exercising every rule: scheme variants, www,
        // mixed-case host vs case-kept path, query, fragment, trailing /
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("https://www."))
            .otherwise(lit("http://")),
          lit("Site"), (col("doc_id") % 7).cast("string"),
          lit(".Example.COM/Docs/Page"), col("doc_id").cast("string"),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit("?utm_source=feed"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#section-2"))
            .otherwise(lit("")))
        Tables.load(s, dir, "documents").select(
          col("doc_id"),
          t.normalizeUrl(url).as("canonical_url"),
          t.hostOf(url).as("host"))
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'https://www.' ELSE 'http://' END)
            || 'Site' || CAST(doc_id % 7 AS VARCHAR)
            || '.Example.COM/Docs/Page' || CAST(doc_id AS VARCHAR)
            || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
            || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END)
            || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
          FROM documents),
        s AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(
              regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
              '#.*$', ''), '\?.*$', '') AS nj,
            regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS ns
          FROM u)
        SELECT doc_id,
          regexp_replace(lower(regexp_extract(nj, '^[^/]*')), '^www\.', '')
            || regexp_replace(regexp_replace(nj, '^[^/]*', ''), '/$', '')
            AS canonical_url,
          regexp_replace(lower(regexp_extract(ns, '^[^/?#]*')), '^www\.', '')
            AS host
        FROM s"""),
      "URL canonicalization for per-domain curation: scheme/query/" +
        "fragment stripped, host lowercased + de-www'd, path case kept, " +
        "trailing slash dropped — RE2-safe per-row regex, no shuffle"),

    QuerySpec("q87_domain_quota",
      (s, dir) => {
        val t = graft.operators.TextAnalysis
        // per-domain cap: at most 40 documents per host, chosen by
        // salted hash — the anti-domination pass web corpora run after
        // URL canonicalization (one synthetic host per doc_id % 7)
        val url = concat(lit("https://www.site"),
          (col("doc_id") % 7).cast("string"), lit(".example.com/d/"),
          col("doc_id").cast("string"))
        val withHost = Tables.load(s, dir, "documents")
          .select(col("doc_id"), t.hostOf(url).as("host"))
        graft.operators.CorpusStats.stratifiedSample(
          withHost, "host", "doc_id", nPerStratum = 40, salt = "quota")
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
                 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
          FROM documents)
        SELECT doc_id, host FROM (
          SELECT doc_id, host,
                 row_number() OVER (PARTITION BY host
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || 'quota'),
                            doc_id) AS rn
          FROM h) WHERE rn <= 40"""),
      "per-domain quota (anti-domination): canonical host + capped " +
        "deterministic per-stratum sample — the composition web corpora " +
        "run right after URL canonicalization"),

    QuerySpec("q88_sliding_chunks",
      (s, dir) => graft.operators.CorpusStats.slidingChunks(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", chunkTokens = 64, stride = 48),
      Some("""
        WITH d AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents WHERE doc_id < 200),
        c AS (
          SELECT doc_id, toks,
                 unnest(range(0, ((len(toks) - 1) // 48) + 1)) AS cid
          FROM d WHERE len(toks) > 0)
        SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
               array_to_string(toks[cid*48+1 : cid*48+64], ' ') AS chunk_text,
               CAST(len(toks[cid*48+1 : cid*48+64]) AS INTEGER) AS n_tok
        FROM c"""),
      "sliding-window chunking with overlap (context-window prep): " +
        "64-token chunks every 48 tokens, pure per-row explode"),

    QuerySpec("q89_epoch_shuffle",
      (s, dir) => graft.operators.CorpusStats.epochShuffle(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", salt = "epoch0")
        .select(col("doc_id"), col("source"), col("shuffle_pos")),
      Some("""
        SELECT doc_id, source,
               CAST(row_number() OVER (
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch0'), doc_id)
                 AS BIGINT) AS shuffle_pos
        FROM documents"""),
      "deterministic epoch shuffle: seeded global permutation via hash " +
        "ordering — range-partitioned contiguous numbering, no RNG state, " +
        "no single-reducer window"),

    QuerySpec("q90_quality_bins",
      (s, dir) => {
        val t = graft.operators.TextAnalysis
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            t.tokenCount(col("text")).cast("int").as("n_tok"))
        graft.operators.CorpusStats.qualityBins(
          scored, "source", col("n_tok"), "doc_id", nBins = 10)
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("quality_bin").cast("int").as("quality_bin"))
      },
      Some("""
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS INTEGER) AS n_tok,
               CAST(ntile(10) OVER (PARTITION BY source
                 ORDER BY len(list_filter(string_split(text, ' '), x -> x <> '')),
                          doc_id) AS INTEGER) AS quality_bin
        FROM documents"""),
      "per-source quality deciles (ntile over a deterministic total " +
        "order) — the precursor to quality-weighted sampling"),

    QuerySpec("q94_incremental_neardedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // the nightly shape: yesterday's corpus is only a signature
        // table; today's batch dedups against it without re-reading text
        val (_, state) = graft.operators.Dedup.incrementalNearDedup(
          docs.filter(col("doc_id") < 250), "doc_id", "text",
          None, n = 3, k = 64, bands = 8, threshold = 0.5,
          baseHash = Some(Dedup.md5Hash60))
        val (survivors, _) = graft.operators.Dedup.incrementalNearDedup(
          docs.filter(col("doc_id") >= 250), "doc_id", "text",
          Some(state), n = 3, k = 64, bands = 8, threshold = 0.5,
          baseHash = Some(Dedup.md5Hash60))
        survivors.select(col("doc_id"), col("source"))
      },
      // the oracle replays the ONE-SHOT formulation over the union —
      // the incremental ≡ one-shot bit-parity this relies on is proven
      // in DedupSpec; a batch doc b ≥ 250 is dropped iff ANY a < b
      // shares a band slice at signature agreement ≥ 0.5
      Some(s"""
        WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks)-2)])) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        hx AS (
          SELECT doc_id, ${md5Hash60Sql("s")} % 2147483647 AS x FROM sh),
        params AS (
          SELECT i,
            ((i + 43) * 2654435761) % 2147483646 + 1 AS a,
            CAST(((i + 43)::HUGEINT * 1229782938247303441)
                 % 2305843009213693951 AS BIGINT) AS b
          FROM generate_series(0, 63) t(i)),
        mins AS (
          SELECT doc_id, i, min((x * a + b) % 2305843009213693951) AS m
          FROM hx CROSS JOIN params GROUP BY doc_id, i),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sg FROM mins GROUP BY doc_id),
        banded AS (
          SELECT doc_id, band, sg[band*8+1 : band*8+8] AS slc
          FROM sig CROSS JOIN generate_series(0, 7) g(band)),
        drops AS (
          SELECT DISTINCT y.doc_id AS doc_b
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.slc = y.slc AND x.doc_id < y.doc_id
          JOIN sig sa ON sa.doc_id = x.doc_id
          JOIN sig sb ON sb.doc_id = y.doc_id
          WHERE y.doc_id >= 250
            AND CAST(len(list_filter([sa.sg[i] = sb.sg[i]
                                      for i in generate_series(1, 64)],
                                     z -> z)) AS DOUBLE) / 64
                  >= CAST(0.5 AS DOUBLE))
        SELECT doc_id, source FROM documents
        WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_b FROM drops)"""),
      "incremental MinHash near-dedup: a new batch against the stored " +
        "signature state (k longs/doc) — bit-identical to one-shot " +
        "dedup of the union, proven in DedupSpec"),

    QuerySpec("q115_repeated_spans",
      (s, dir) => Dedup.repeatedSpans(Tables.load(s, dir, "documents"),
        "doc_id", "text", window = 8, minDocs = 2,
        baseHash = Some(Dedup.md5Hash60)),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, unnest([{'p': j, 's': array_to_string(t[j:j+7], ' ')}
                                 for j in generate_series(1, len(t) - 7)],
                                recursive := true)
          FROM toks),
        hashed AS (
          SELECT doc_id, CAST(p - 1 AS INTEGER) AS span_pos,
                 ${md5Hash60Sql("s")} AS span_hash
          FROM grams),
        hot AS (
          SELECT span_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM hashed GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        SELECT h.doc_id, h.span_pos, h.span_hash, hot.n_docs
        FROM hashed h JOIN hot USING (span_hash)"""),
      "ExactSubstr-shaped corpus-global duplicate spans (Lee et al. " +
        "2022): 8-token sliding windows shared by >=2 documents; one " +
        "hash-keyed shuffle, hot-span join back is broadcast-sized"),

    QuerySpec("q116_dup_span_coverage",
      (s, dir) => Dedup.dupSpanCoverage(Tables.load(s, dir, "documents"),
        "doc_id", "text", window = 8, minDocs = 2,
        baseHash = Some(Dedup.md5Hash60)),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, unnest([{'p': j, 's': array_to_string(t[j:j+7], ' ')}
                                 for j in generate_series(1, len(t) - 7)],
                                recursive := true)
          FROM toks),
        hashed AS (
          SELECT doc_id, CAST(p - 1 AS INTEGER) AS span_pos,
                 ${md5Hash60Sql("s")} AS span_hash
          FROM grams),
        hot AS (
          SELECT span_hash FROM hashed
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        cov AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS covered_tokens FROM (
            SELECT DISTINCT h.doc_id, h.span_pos + k AS tp
            FROM hashed h JOIN hot USING (span_hash)
            CROSS JOIN generate_series(0, 7) g(k)) GROUP BY 1)
        SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS total_tokens,
               coalesce(cov.covered_tokens, 0) AS covered_tokens,
               CASE WHEN len(t.t) > 0 THEN
                 CAST(coalesce(cov.covered_tokens, 0) AS DOUBLE) / len(t.t)
               END AS dup_coverage
        FROM toks t LEFT JOIN cov USING (doc_id)"""),
      "fraction of each document's tokens covered by a corpus-" +
        "duplicated span — the ExactSubstr drop/trim signal; position " +
        "expansion runs after the hot-span filter so it scales with " +
        "duplicated content only"),

    QuerySpec("q117_temperature_mixture",
      (s, dir) => graft.operators.CorpusStats.temperatureMixture(
          Tables.load(s, dir, "documents"), "doc_id", "lang",
          alpha = 0.5, budgetFraction = 0.5, salt = "mix")
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""
        WITH counts AS (
          -- temperatureMixture excludes null domains from both the
          -- budget math and the output; mirror that here
          SELECT lang, count(*) AS n FROM documents
          WHERE lang IS NOT NULL GROUP BY 1),
        wcounts AS (
          -- integer-quantized temperature weight: BIGINT sums are
          -- exact in any order, so the normalizer needs no fold
          -- discipline (mirrors CorpusStats.temperatureMixture)
          SELECT lang, n,
                 CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
          FROM counts),
        agg AS (
          SELECT CAST(sum(n) AS DOUBLE) AS nt,
                 CAST(sum(wq) AS DOUBLE) AS za FROM wcounts),
        rates AS (
          SELECT c.lang,
                 least(CAST(1.0 AS DOUBLE),
                   CAST(0.5 AS DOUBLE) * z.nt * CAST(c.wq AS DOUBLE)
                     / z.za / CAST(c.n AS DOUBLE)) AS r
          FROM wcounts c CROSS JOIN agg z),
        thresholds AS (
          SELECT lang,
            CASE WHEN r >= 1.0 THEN 'g'
                 ELSE printf('%08x', CAST(least(round(r * 4294967296.0),
                        4294967295.0) AS BIGINT)) || repeat('f', 24)
            END AS th
          FROM rates)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN thresholds t USING (lang)
        WHERE md5(CAST(d.doc_id AS VARCHAR) || 'mix') < t.th"""),
      "temperature-scaled multilingual mixture (XLM alpha=0.5, half " +
        "budget): per-domain keep rates from an exact integer-quantized " +
        "normalizer, broadcast-joined as md5 thresholds — the corpus " +
        "side never shuffles and no expression grows with domain count"),

    QuerySpec("q118_curation_v2",
      (s, dir) => {
        // the round-6 assembly flow: ExactSubstr-style span-coverage
        // gate (drop docs that are mostly corpus-duplicated spans) →
        // temperature-rebalanced language mixture over the survivors
        val docs = Tables.load(s, dir, "documents")
        val keepIds = Dedup.dupSpanCoverage(docs, "doc_id", "text",
            window = 8, minDocs = 2, baseHash = Some(Dedup.md5Hash60))
          .filter(col("total_tokens") > 0 && col("dup_coverage") < 0.8)
          .select("doc_id")
        // pinned: temperatureMixture's domain-count aggregation AND the
        // final filtered join both scan the survivors of the (expensive)
        // coverage pass, which must run once
        val kept = graft.ops.materialize(
          docs.join(keepIds, Seq("doc_id"), "left_semi"))
        graft.operators.CorpusStats.temperatureMixture(kept, "doc_id",
            "lang", alpha = 0.5, budgetFraction = 0.5, salt = "curate")
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, unnest([{'p': j, 's': array_to_string(t[j:j+7], ' ')}
                                 for j in generate_series(1, len(t) - 7)],
                                recursive := true)
          FROM toks),
        hashed AS (
          SELECT doc_id, CAST(p - 1 AS INTEGER) AS span_pos,
                 ${md5Hash60Sql("s")} AS span_hash
          FROM grams),
        hot AS (
          SELECT span_hash FROM hashed
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        cov AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT DISTINCT h.doc_id, h.span_pos + k AS tp
            FROM hashed h JOIN hot USING (span_hash)
            CROSS JOIN generate_series(0, 7) g(k)) GROUP BY 1),
        keptdocs AS (
          SELECT d.doc_id, d.lang, d.source
          FROM toks tk JOIN documents d USING (doc_id)
          LEFT JOIN cov USING (doc_id)
          WHERE len(tk.t) > 0
            AND CAST(coalesce(cov.c, 0) AS DOUBLE) / len(tk.t)
                  < CAST(0.8 AS DOUBLE)),
        counts AS (
          -- mirror temperatureMixture's null-domain exclusion
          SELECT lang, count(*) AS n FROM keptdocs
          WHERE lang IS NOT NULL GROUP BY 1),
        wcounts AS (
          SELECT lang, n,
                 CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
          FROM counts),
        agg AS (
          SELECT CAST(sum(n) AS DOUBLE) AS nt,
                 CAST(sum(wq) AS DOUBLE) AS za FROM wcounts),
        rates AS (
          SELECT c.lang,
                 least(CAST(1.0 AS DOUBLE),
                   CAST(0.5 AS DOUBLE) * z.nt * CAST(c.wq AS DOUBLE)
                     / z.za / CAST(c.n AS DOUBLE)) AS r
          FROM wcounts c CROSS JOIN agg z),
        thresholds AS (
          SELECT lang,
            CASE WHEN r >= 1.0 THEN 'g'
                 ELSE printf('%08x', CAST(least(round(r * 4294967296.0),
                        4294967295.0) AS BIGINT)) || repeat('f', 24)
            END AS th
          FROM rates)
        SELECT k.doc_id, k.lang, k.source
        FROM keptdocs k JOIN thresholds t USING (lang)
        WHERE md5(CAST(k.doc_id AS VARCHAR) || 'curate') < t.th"""),
      "curation v2: span-coverage dedup gate (ExactSubstr signal) " +
        "feeding a temperature-rebalanced language mixture — the " +
        "round-6 operators composed end-to-end under one oracle"),

    QuerySpec("q125_dsir_resample",
      (s, dir) => {
        // DSIR (Xie et al. 2023): resample the whole corpus toward the
        // English-document distribution at half budget — hashed-bigram
        // importance weights, integer-exact Poisson selection
        val docs = Tables.load(s, dir, "documents")
        graft.operators.CorpusStats.dsirResample(docs, "doc_id", "text",
            docs.filter(col("lang") === "en"), "text",
            fraction = 0.5, buckets = 4096, alpha = 1.0,
            clampLog = 8.0, salt = "dsir")
          .select(col("doc_id"), col("lang"), col("source"),
            col("score_q"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, lang,
                 unnest([t[i] || ' ' || t[i+1]
                         for i in generate_series(1, len(t) - 1)]) AS g
          FROM toks),
        feats AS (
          SELECT doc_id, lang, ${md5Hash60Sql("g")} % 4096 AS bucket,
                 count(*) AS c
          FROM grams GROUP BY 1, 2, 3),
        craw AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS c
                 FROM feats GROUP BY 1),
        ctgt AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS c
                 FROM feats WHERE lang = 'en' GROUP BY 1),
        tot AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT)
                        FROM craw) AS n_raw,
                       (SELECT CAST(coalesce(sum(c), 0) AS BIGINT)
                        FROM ctgt) AS n_tgt),
        -- the same micro-nat ln quantization q72 proved cross-engine
        model AS (
          SELECT b.bucket,
                 CAST(floor((ln(CAST(coalesce(ct.c, 0) AS DOUBLE)
                               + CAST(1.0 AS DOUBLE))
                           - ln(CAST(z.n_tgt AS DOUBLE)
                               + CAST(4096.0 AS DOUBLE))
                           - ln(CAST(coalesce(cr.c, 0) AS DOUBLE)
                               + CAST(1.0 AS DOUBLE))
                           + ln(CAST(z.n_raw AS DOUBLE)
                               + CAST(4096.0 AS DOUBLE)))
                          * CAST(1e6 AS DOUBLE)
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lambda_q
          FROM range(4096) b(bucket)
          LEFT JOIN craw cr USING (bucket)
          LEFT JOIN ctgt ct USING (bucket)
          CROSS JOIN tot z),
        scores AS (
          SELECT f.doc_id, CAST(sum(f.c * m.lambda_q) AS BIGINT) AS score_q
          FROM feats f JOIN model m USING (bucket) GROUP BY 1),
        weights AS (
          SELECT d.doc_id, d.lang, d.source,
                 coalesce(s.score_q, 0) AS score_q,
                 CAST(floor(exp(least(greatest(
                     CAST(coalesce(s.score_q, 0) AS DOUBLE)
                       / CAST(1e6 AS DOUBLE),
                     CAST(-8.0 AS DOUBLE)), CAST(8.0 AS DOUBLE)))
                   * CAST(1e6 AS DOUBLE)
                   + CAST(0.5 AS DOUBLE)) AS BIGINT) AS w_q
          FROM documents d LEFT JOIN scores s USING (doc_id)),
        scal AS (
          SELECT CAST(floor(CAST(count(*) AS DOUBLE) * CAST(0.5 AS DOUBLE)
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS k_keep,
                 sum(CAST(w_q AS HUGEINT)) AS sum_w
          FROM weights)
        SELECT w.doc_id, w.lang, w.source, w.score_q
        FROM weights w CROSS JOIN scal z
        WHERE (${md5Hash60Sql("CAST(w.doc_id AS VARCHAR) || 'dsir'")}
                 // 1048576) * z.sum_w
              < z.k_keep * CAST(w.w_q AS HUGEINT)
                * CAST(1099511627776 AS HUGEINT)"""),
      "DSIR importance resampling toward the English subset (hashed-" +
        "bigram log-likelihood-ratio weights, Xie et al. 2023): " +
        "micro-nat-quantized model, exact BIGINT doc scores, clamped " +
        "exp weights, and a decimal-exact Poisson keep rule — no " +
        "global sort, model broadcast, corpus exploded once"),

    // the one corpus-state text operator that had no driver oracle:
    // the raw fixture texts are single-line, so the query SYNTHESIZES a
    // multi-line corpus deterministically (50 buckets of doc_id % 50,
    // texts newline-joined in doc_id order, constant banner/footer on
    // every bucket) — cross-bucket duplicated texts AND the injected
    // constants both become boilerplate lines the dedup must strip,
    // and DuckDB replays split → distinct-doc frequency → anti-join →
    // in-order reassembly on the identical synthesized strings
    QuerySpec("q124_global_line_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val synth = docs.groupBy((col("doc_id") % 50).as("gid"))
          .agg(concat(lit("=== corpus banner ===\n"),
            array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text")), "\n"),
            lit("\n=== corpus footer ===")).as("text"))
        graft.operators.TextAnalysis.globalLineDedup(
            synth, "gid", "text", maxDocs = 2)
          .select(col("gid"), col("text"))
      },
      Some("""
        WITH synth AS (
          SELECT CAST(doc_id % 50 AS BIGINT) AS gid,
                 '=== corpus banner ===' || chr(10) ||
                 string_agg(text, chr(10) ORDER BY doc_id) ||
                 chr(10) || '=== corpus footer ===' AS text
          FROM documents GROUP BY 1),
        lines AS (
          SELECT gid, unnest([{'p': i, 'l': ls[i]}
                              for i in generate_series(1, len(ls))],
                             recursive := true)
          FROM (SELECT gid, string_split(text, chr(10)) AS ls FROM synth)),
        boiler AS (
          SELECT l FROM lines GROUP BY l HAVING count(DISTINCT gid) > 2),
        rebuilt AS (
          SELECT gid, string_agg(l, chr(10) ORDER BY p) AS cleaned
          FROM lines WHERE l NOT IN (SELECT l FROM boiler)
          GROUP BY gid)
        SELECT s.gid, coalesce(r.cleaned, '') AS text
        FROM synth s LEFT JOIN rebuilt r USING (gid)"""),
      "corpus-global line dedup (C4/RefinedWeb boilerplate removal): " +
        "line-hash frequency over distinct documents, anti-join, " +
        "in-order reassembly — the shuffle carries (hash, doc, pos), " +
        "never line text"),

    QuerySpec("q119_bigram_kn",
      (s, dir) => graft.operators.CorpusStats.bigramKnScore(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        pairs AS (
          SELECT doc_id, unnest([{'w1': t[j], 'w2': t[j+1]}
                                 for j in generate_series(1, len(t) - 1)],
                                recursive := true)
          FROM toks),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS t1 FROM bc GROUP BY 1),
        cont AS (SELECT w2, count(*) AS r2 FROM bc GROUP BY 1),
        tt AS (SELECT count(*) AS tbig FROM bc),
        scored AS (
          SELECT p.doc_id,
            CAST(floor(-ln(
              (CAST(c12 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                / CAST(c1 AS DOUBLE) +
              CAST(0.75 AS DOUBLE) * CAST(t1 AS DOUBLE) / CAST(c1 AS DOUBLE)
                * (CAST(r2 AS DOUBLE) / CAST(tbig AS DOUBLE))
            ) * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS nll
          FROM pairs p
          JOIN bc USING (w1, w2) JOIN ctx USING (w1) JOIN cont USING (w2)
          CROSS JOIN tt)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams_scored,
               CAST(sum(nll) AS DOUBLE) / count(*) / 1000000.0 AS avg_nll
        FROM scored GROUP BY doc_id"""),
      "interpolated Kneser-Ney bigram NLL (the CCNet/KenLM perplexity " +
        "filter shape): corpus-as-its-own-LM, micro-nat quantized for " +
        "engine-independent determinism; model tables are vocab-bounded " +
        "broadcast joins"),

    QuerySpec("q120_cluster_keep_best",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // cluster-level dedup resolution with a QUALITY policy: within
        // each near-dup cluster keep the longest member (doc_id
        // tiebreak), not the smallest id — the curation rule real
        // assemblies use so boilerplate-trimmed copies lose to the
        // fullest one
        val docs = Tables.load(s, dir, "documents")
        val clusters = Dedup.duplicateClusters(
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
            .select(col("doc_a"), col("doc_b")))
        val scored = clusters.join(docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tok")), Seq("doc_id"))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_tok").desc, col("doc_id"))
        val best = scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).select("doc_id")
        docs.join(clusters, Seq("doc_id"), "left_anti").select(col("doc_id"))
          .unionByName(best)
          .join(docs.select(col("doc_id"), col("lang"), col("source")),
            Seq("doc_id"))
      },
      Some("""
        WITH RECURSIVE sh AS (
          SELECT doc_id,
            unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                                  for i in generate_series(1, len(tokens)-2)])) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= CAST(0.8 AS DOUBLE)),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, reach) AS (
          SELECT src, src FROM edges
          UNION
          SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
        clusters AS (
          SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node),
        scored AS (
          SELECT c.doc_id, c.cluster_id,
                 len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_tok
          FROM clusters c JOIN documents d USING (doc_id)),
        best AS (
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
                     ORDER BY n_tok DESC, doc_id) AS rn FROM scored)
          WHERE rn = 1),
        survivors AS (
          SELECT doc_id FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM clusters)
          UNION ALL SELECT doc_id FROM best)
        SELECT s.doc_id, d.lang, d.source
        FROM survivors s JOIN documents d USING (doc_id)"""),
      "near-dup cluster resolution keeping the best-quality (longest) " +
        "member per cluster — quality-policy dedup, not min-id dedup"),

    QuerySpec("q121_shard_manifest",
      (s, dir) => graft.operators.CorpusStats.shardManifest(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        tokensPerShard = 2048L),
      Some("""
        WITH t AS (
          SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, n_tok,
                 sum(n_tok) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tok AS excl
          FROM t)
        SELECT CAST(excl // 2048 AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM c GROUP BY 1"""),
      "training-shard manifest (~2048 tokens/shard, docs kept whole): " +
        "greedy fill over the global token prefix sum — range-partition " +
        "+ offset map, no single-reducer window"),

    QuerySpec("q127_bm25_topk",
      (s, dir) => {
        // retrieval-based decontamination: every 101st document plays
        // the eval probe; BM25-rank the REST of the corpus against each
        // probe and keep the top 5 — the quarantine candidates
        val docs = Tables.load(s, dir, "documents")
        graft.operators.CorpusStats.bm25TopK(
          docs.filter(col("doc_id") % 101 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 101 === 0), "doc_id", "text",
          k = 5)
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 101 <> 0),
        probes AS (
          SELECT doc_id AS q_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 101 = 0),
        qterms AS (SELECT DISTINCT q_id, unnest(t) AS term FROM probes),
        qvocab AS (SELECT DISTINCT term FROM qterms),
        posts AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM corpus)
          GROUP BY 1, 2),
        lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM corpus),
        tot AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
                 (SELECT CAST(coalesce(sum(len), 0) AS BIGINT) FROM lens)
                   AS n_toks),
        -- df per query term from the gated postings (the gate keeps
        -- every posting of a query term, so this is the true corpus df)
        dfx AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM posts JOIN qvocab USING (term) GROUP BY 1),
        -- idf quantized to integer micro-nats (q119/q125 discipline);
        -- after this every op is exact integer arithmetic in HUGEINT
        idf AS (
          SELECT term,
                 CAST(floor((ln(CAST(n_docs AS DOUBLE) * 2 + 2)
                           - ln(CAST(df AS DOUBLE) * 2 + 1))
                        * CAST(1e6 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                   AS BIGINT) AS idf_u
          FROM dfx CROSS JOIN tot),
        contrib AS (
          SELECT qt.q_id, p.doc_id,
                 (CAST(i.idf_u AS HUGEINT) * 22 * p.tf * z.n_toks)
                 // (CAST(p.tf AS HUGEINT) * 10 * z.n_toks
                     + CAST(z.n_toks AS HUGEINT) * 3
                     + CAST(l.len AS HUGEINT) * 9 * z.n_docs) AS c_u
          FROM posts p
          JOIN qterms qt USING (term)
          JOIN idf i USING (term)
          JOIN lens l ON l.doc_id = p.doc_id
          CROSS JOIN tot z),
        scored AS (
          SELECT q_id, doc_id, CAST(sum(c_u) AS BIGINT) AS score_u
          FROM contrib GROUP BY 1, 2)
        SELECT q_id, rank, doc_id, score_u
        FROM (SELECT q_id, doc_id, score_u,
                     CAST(row_number() OVER (PARTITION BY q_id
                       ORDER BY score_u DESC, doc_id) AS INTEGER) AS rank
              FROM scored)
        WHERE rank <= 5"""),
      "integer-exact Okapi BM25 top-5 retrieval of corpus docs per eval " +
        "probe (k1=6/5, b=3/4 as rationals, idf micro-nat-quantized, " +
        "scores exact BIGINT sums of integral quotients): the corpus " +
        "explodes once, the probe vocabulary broadcast-gates all " +
        "downstream work"),

    QuerySpec("q129_rep_signals",
      (s, dir) => {
        // synthetic structure appended per doc so every signal takes a
        // deterministic nonzero value on the fixture (same pattern as
        // q65's injected PII): duplicate lines/paragraphs on even ids,
        // one bullet pair + one ellipsis line on all
        val t = concat(col("text"),
          lit("\n- item one\n- item one\nto be continued...\n"),
          when(col("doc_id") % 2 === 0,
            lit("dup line\ndup line\n\npara\n\npara"))
            .otherwise(lit("tail line")))
        Tables.load(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.dupLineFraction(t).as("dup_line_frac"),
          TextAnalysis.dupParagraphFraction(t).as("dup_para_frac"),
          TextAnalysis.dupLineCharFraction(t).as("dup_line_char_frac"),
          TextAnalysis.bulletLineFraction(t).as("bullet_line_frac"),
          TextAnalysis.ellipsisLineFraction(t).as("ellipsis_line_frac"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 text || chr(10) || '- item one' || chr(10) || '- item one'
                      || chr(10) || 'to be continued...' || chr(10)
                      || CASE WHEN doc_id % 2 = 0
                           THEN 'dup line' || chr(10) || 'dup line'
                                || chr(10) || chr(10) || 'para'
                                || chr(10) || chr(10) || 'para'
                           ELSE 'tail line' END AS txt
          FROM documents),
        l AS (
          SELECT doc_id, txt,
                 string_split(txt, chr(10)) AS ls,
                 string_split(txt, chr(10) || chr(10)) AS ps
          FROM t)
        SELECT doc_id,
          1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
            AS dup_line_frac,
          1.0 - CAST(len(list_distinct(ps)) AS DOUBLE) / len(ps)
            AS dup_para_frac,
          CASE WHEN length(txt) - (len(ls) - 1) > 0 THEN
            1.0 - CAST(list_aggregate(list_transform(list_distinct(ls),
                    x -> length(x)), 'sum') AS DOUBLE)
                / (length(txt) - (len(ls) - 1))
          END AS dup_line_char_frac,
          CAST(len(list_filter(ls,
                 x -> regexp_matches(ltrim(x), '^[-*•]'))) AS DOUBLE)
            / len(ls) AS bullet_line_frac,
          CAST(len(list_filter(ls,
                 x -> regexp_matches(rtrim(x), '(\.\.\.|…)$'))) AS DOUBLE)
            / len(ls) AS ellipsis_line_frac
        FROM l"""),
      "Gopher §A1.1 repetition + format gates: duplicate line/paragraph " +
        "fractions (count- and character-weighted), bullet and ellipsis " +
        "line fractions — per-row expressions over injected structure"),

    // exact BPE tokenization (VERDICT r16 "missing #2"): the merges
    // table is fitted deterministically on a bounded sample, dumped as
    // DATA (the q113/q122 model-replay mechanism, keyed here by the
    // DOCUMENT corpus), and the oracle re-runs the whole encode in
    // SQL: pre-tokenize with the shared RE2-safe pattern, map chars to
    // the dumped GPT-2 byte alphabet, then a recursive CTE that merges
    // the lowest-ranked pair one step at a time — equivalent to the
    // engine's classic merge-all-occurrences loop for any VALID table
    // (BpeSpec proves both the validity of fitted tables and the
    // equivalence on this corpus). ASCII-replay contract: the SQL maps
    // chars via unicode(ch), which equals the byte only for ASCII
    // corpora (these fixtures are; a multi-byte corpus would need a
    // bytes-level split the engine side already does).
    QuerySpec("q134_bpe_tokens",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val key = VectorQueries.docsKey(docs)
        val model = VectorQueries.cachedFit("bpe_200", key)(
          graft.operators.Bpe.fit(docs, "doc_id", "text", nMerges = 200))
        VectorQueries.dumpOracle(graft.operators.Bpe.mergesRows(model)
          .toDF("rank", "l", "r", "merged", "id"),
          "bpe_merges", key._1, key._2)
        VectorQueries.dumpOracle(graft.operators.Bpe.byteRows
          .toDF("byte", "sym"), "bpe_bytes", key._1, key._2)
        docs.select(col("doc_id"),
            TextAnalysis.tokenEstimate(col("text")).cast("int")
              .as("n_pieces"),
            graft.operators.Bpe.tokenIds(col("text"), model).as("__ids"))
          .select(col("doc_id"), col("n_pieces"),
            size(col("__ids")).cast("int").as("n_tokens"),
            aggregate(col("__ids"), lit(0L),
              (acc, x) => acc + x.cast("long")).as("id_sum"))
      },
      Some("""
        WITH RECURSIVE nn AS (
          SELECT count(*) AS n,
                 sum(CAST(doc_id AS BIGINT) + len(text)) AS fp
          FROM documents),
        bm AS (
          SELECT rank, l, r, merged, id
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_merges/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        bb AS (
          SELECT byte, sym
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_bytes/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        pieces AS (
          SELECT doc_id, unnest(pl) AS piece
          FROM (SELECT doc_id,
                       regexp_extract_all(text,
                         ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+') AS pl
                FROM documents)),
        dp AS (SELECT DISTINCT piece FROM pieces),
        init AS (
          SELECT piece, list(sym ORDER BY i) AS syms
          FROM (SELECT piece, unnest(string_split(piece, '')) AS ch,
                       generate_subscripts(string_split(piece, ''), 1) AS i
                FROM dp)
          JOIN bb ON bb.byte = unicode(ch)
          GROUP BY piece),
        steps AS (
          SELECT piece, syms, 0 AS it FROM init
          UNION ALL
          SELECT s.piece,
                 s.syms[1:bp.pos-1] || [bp.merged] || s.syms[bp.pos+2:],
                 s.it + 1
          FROM steps s
          JOIN LATERAL (
            SELECT m.rank, m.merged, u.i AS pos
            FROM (SELECT unnest(s.syms) AS a,
                         generate_subscripts(s.syms, 1) AS i) u
            JOIN bm m ON m.l = u.a AND m.r = s.syms[u.i + 1]
            ORDER BY m.rank, u.i
            LIMIT 1) bp ON true),
        fin AS (
          SELECT piece, syms FROM (
            SELECT piece, syms, row_number() OVER (PARTITION BY piece
                     ORDER BY it DESC) AS rn
            FROM steps) WHERE rn = 1),
        vocab AS (
          SELECT merged AS sym, id FROM bm
          UNION ALL
          SELECT sym, byte AS id FROM bb),
        pstat AS (
          SELECT f.piece, CAST(count(*) AS INTEGER) AS n_tok,
                 CAST(sum(v.id) AS BIGINT) AS id_sum
          FROM (SELECT piece, unnest(syms) AS sym FROM fin) f
          JOIN vocab v USING (sym)
          GROUP BY f.piece)
        SELECT d.doc_id,
               CAST(coalesce(count(p.piece), 0) AS INTEGER) AS n_pieces,
               CAST(coalesce(sum(ps.n_tok), 0) AS INTEGER) AS n_tokens,
               CAST(coalesce(sum(ps.id_sum), 0) AS BIGINT) AS id_sum
        FROM documents d
        LEFT JOIN pieces p ON p.doc_id = d.doc_id
        LEFT JOIN pstat ps ON ps.piece = p.piece
        GROUP BY d.doc_id"""),
      "exact byte-level BPE token accounting (public GPT-2 algorithm; " +
        "200 merges fitted on a deterministic sample, table dumped as " +
        "data): per-doc piece count (= the old estimate), exact token " +
        "count, and the exact id-sum fingerprint — the oracle re-runs " +
        "the full merge loop in SQL from the dumped model"),

    // q73's packing driven by EXACT BPE counts instead of the
    // whitespace count — the delivery-side half of the r17 exact-token
    // story: the oracle composes q134's full BPE replay (merge loop
    // and all) with q73's windowed packing SQL, so every chunk
    // boundary in the result is re-derived outside the engine from
    // the dumped model
    QuerySpec("q135_bpe_packing",
      (s, dir) => {
        import s.implicits._
        val docsRaw = Tables.load(s, dir, "documents")
        val key = VectorQueries.docsKey(docsRaw)
        val model = VectorQueries.cachedFit("bpe_200", key)(
          graft.operators.Bpe.fit(docsRaw, "doc_id", "text", nMerges = 200))
        VectorQueries.dumpOracle(graft.operators.Bpe.mergesRows(model)
          .toDF("rank", "l", "r", "merged", "id"),
          "bpe_merges", key._1, key._2)
        VectorQueries.dumpOracle(graft.operators.Bpe.byteRows
          .toDF("byte", "sym"), "bpe_bytes", key._1, key._2)
        val docs = docsRaw.select(col("doc_id"), col("source"),
          graft.operators.Bpe.tokenCount(col("text"), model).cast("long")
            .as("n_tok"))
        graft.operators.CorpusStats.sequencePacking(
          docs, "doc_id", "n_tok", "source", budget = 512)
      },
      Some("""
        WITH RECURSIVE nn AS (
          SELECT count(*) AS n,
                 sum(CAST(doc_id AS BIGINT) + len(text)) AS fp
          FROM documents),
        bm AS (
          SELECT rank, l, r, merged, id
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_merges/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        bb AS (
          SELECT byte, sym
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_bytes/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        pieces AS (
          SELECT doc_id, unnest(pl) AS piece
          FROM (SELECT doc_id,
                       regexp_extract_all(text,
                         ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+') AS pl
                FROM documents)),
        dp AS (SELECT DISTINCT piece FROM pieces),
        init AS (
          SELECT piece, list(sym ORDER BY i) AS syms
          FROM (SELECT piece, unnest(string_split(piece, '')) AS ch,
                       generate_subscripts(string_split(piece, ''), 1) AS i
                FROM dp)
          JOIN bb ON bb.byte = unicode(ch)
          GROUP BY piece),
        steps AS (
          SELECT piece, syms, 0 AS it FROM init
          UNION ALL
          SELECT s.piece,
                 s.syms[1:bp.pos-1] || [bp.merged] || s.syms[bp.pos+2:],
                 s.it + 1
          FROM steps s
          JOIN LATERAL (
            SELECT m.rank, m.merged, u.i AS pos
            FROM (SELECT unnest(s.syms) AS a,
                         generate_subscripts(s.syms, 1) AS i) u
            JOIN bm m ON m.l = u.a AND m.r = s.syms[u.i + 1]
            ORDER BY m.rank, u.i
            LIMIT 1) bp ON true),
        fin AS (
          SELECT piece, syms FROM (
            SELECT piece, syms, row_number() OVER (PARTITION BY piece
                     ORDER BY it DESC) AS rn
            FROM steps) WHERE rn = 1),
        pstat AS (
          SELECT piece, CAST(len(syms) AS BIGINT) AS n_tok FROM fin),
        d AS (
          SELECT dd.doc_id, dd.source,
                 CAST(coalesce(sum(ps.n_tok), 0) AS BIGINT) AS n_tok
          FROM documents dd
          LEFT JOIN pieces p ON p.doc_id = dd.doc_id
          LEFT JOIN pstat ps ON ps.piece = p.piece
          GROUP BY dd.doc_id, dd.source)
        SELECT doc_id, source AS shard, n_tok,
          CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
            AS BIGINT) AS cum_tok,
          CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
            - n_tok) // 512 AS BIGINT) AS start_chunk,
          CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
            - 1) // 512 AS BIGINT) AS end_chunk
        FROM d"""),
      "sequence packing metered by EXACT BPE tokens (q134's model): " +
        "per-shard running exact-token sum cut into 512-token chunks — " +
        "the oracle re-derives every chunk boundary from the dumped " +
        "merges table through the full SQL merge-loop replay"),

    // the MATERIALIZED training sequences (GPT-style concat-and-chunk
    // of the exact-token id stream): each output row is one
    // fixed-length trainer sequence. The engine never explodes to
    // token level (fragment slices + one seq_id exchange); the oracle
    // DOES — per-token global positions in plain SQL — and the two
    // must agree on every sequence's exact content: id_sum is the
    // order-free check, possum (Σ id·within-seq-position) pins the
    // ORDER of every token in every sequence
    QuerySpec("q136_packed_sequences",
      (s, dir) => {
        import s.implicits._
        val docsRaw = Tables.load(s, dir, "documents")
        val key = VectorQueries.docsKey(docsRaw)
        val model = VectorQueries.cachedFit("bpe_200", key)(
          graft.operators.Bpe.fit(docsRaw, "doc_id", "text", nMerges = 200))
        VectorQueries.dumpOracle(graft.operators.Bpe.mergesRows(model)
          .toDF("rank", "l", "r", "merged", "id"),
          "bpe_merges", key._1, key._2)
        VectorQueries.dumpOracle(graft.operators.Bpe.byteRows
          .toDF("byte", "sym"), "bpe_bytes", key._1, key._2)
        val withIds = docsRaw.select(col("doc_id"),
          graft.operators.Bpe.tokenIds(col("text"), model).as("ids"))
        graft.operators.CorpusStats
          .packTokenSequences(withIds, "doc_id", "ids", seqLen = 256)
          .select(col("seq_id"), col("n_tokens"), col("n_docs"),
            aggregate(col("ids"), lit(0L),
              (acc, x) => acc + x.cast("long")).as("id_sum"),
            aggregate(zip_with(col("ids"),
                sequence(lit(1L), size(col("ids")).cast("long")),
                (x, i) => x.cast("long") * i),
              lit(0L), (acc, x) => acc + x).as("possum"))
      },
      Some("""
        WITH RECURSIVE nn AS (
          SELECT count(*) AS n,
                 sum(CAST(doc_id AS BIGINT) + len(text)) AS fp
          FROM documents),
        bm AS (
          SELECT rank, l, r, merged, id
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_merges/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        bb AS (
          SELECT byte, sym
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_bytes/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        pieces AS (
          SELECT doc_id, unnest(pl) AS piece,
                 generate_subscripts(pl, 1) AS pi
          FROM (SELECT doc_id,
                       regexp_extract_all(text,
                         ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+') AS pl
                FROM documents)),
        dp AS (SELECT DISTINCT piece FROM pieces),
        init AS (
          SELECT piece, list(sym ORDER BY i) AS syms
          FROM (SELECT piece, unnest(string_split(piece, '')) AS ch,
                       generate_subscripts(string_split(piece, ''), 1) AS i
                FROM dp)
          JOIN bb ON bb.byte = unicode(ch)
          GROUP BY piece),
        steps AS (
          SELECT piece, syms, 0 AS it FROM init
          UNION ALL
          SELECT s.piece,
                 s.syms[1:bp.pos-1] || [bp.merged] || s.syms[bp.pos+2:],
                 s.it + 1
          FROM steps s
          JOIN LATERAL (
            SELECT m.rank, m.merged, u.i AS pos
            FROM (SELECT unnest(s.syms) AS a,
                         generate_subscripts(s.syms, 1) AS i) u
            JOIN bm m ON m.l = u.a AND m.r = s.syms[u.i + 1]
            ORDER BY m.rank, u.i
            LIMIT 1) bp ON true),
        fin AS (
          SELECT piece, syms FROM (
            SELECT piece, syms, row_number() OVER (PARTITION BY piece
                     ORDER BY it DESC) AS rn
            FROM steps) WHERE rn = 1),
        vocab AS (
          SELECT merged AS sym, id FROM bm
          UNION ALL
          SELECT sym, byte AS id FROM bb),
        pids AS (
          SELECT f.piece, list(v.id ORDER BY f.si) AS ids
          FROM (SELECT piece, unnest(syms) AS sym,
                       generate_subscripts(syms, 1) AS si
                FROM fin) f
          JOIN vocab v USING (sym)
          GROUP BY f.piece),
        tok AS (
          SELECT p.doc_id, t.id,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY p.pi, t.ti) AS dti
          FROM pieces p
          JOIN (SELECT piece, unnest(ids) AS id,
                       generate_subscripts(ids, 1) AS ti
                FROM pids) t USING (piece)),
        dlen AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok
          GROUP BY doc_id),
        doff AS (
          SELECT doc_id,
                 sum(n) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n AS off
          FROM dlen),
        g AS (
          SELECT t.id,
                 (o.off + t.dti - 1) // 256 AS seq_id,
                 (o.off + t.dti - 1) % 256 + 1 AS wpos,
                 t.doc_id
          FROM tok t JOIN doff o USING (doc_id))
        SELECT CAST(seq_id AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(sum(CAST(id AS BIGINT)) AS BIGINT) AS id_sum,
               CAST(sum(CAST(id AS BIGINT) * wpos) AS BIGINT) AS possum
        FROM g GROUP BY seq_id"""),
      "materialized GPT-style training sequences: the exact-token id " +
        "stream cut into 256-token rows — engine packs via fragment " +
        "slices + one seq_id exchange (no token-level explode), the " +
        "oracle re-derives every token's global position in SQL; " +
        "possum pins per-sequence token ORDER exactly"),

    // q88's sliding context windows in EXACT token-id space (r18,
    // closing the last estimate-metered operator): windows slide over
    // Bpe.tokenIds instead of whitespace pieces. The engine never
    // leaves the per-row array (one encode, transform-over-sequence of
    // starts, slice per chunk); the oracle explodes to token level and
    // re-derives every chunk membership from per-doc token positions —
    // each token t lands in chunks ⌈(t−C)/S⌉..⌊(t−1)/S⌋ (clamped to
    // the doc's chunk range), all through q134's full BPE merge-loop
    // replay. id_sum pins chunk content, possum pins within-chunk
    // token order.
    QuerySpec("q137_token_chunks",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val key = VectorQueries.docsKey(docs)
        val model = VectorQueries.cachedFit("bpe_200", key)(
          graft.operators.Bpe.fit(docs, "doc_id", "text", nMerges = 200))
        VectorQueries.dumpOracle(graft.operators.Bpe.mergesRows(model)
          .toDF("rank", "l", "r", "merged", "id"),
          "bpe_merges", key._1, key._2)
        VectorQueries.dumpOracle(graft.operators.Bpe.byteRows
          .toDF("byte", "sym"), "bpe_bytes", key._1, key._2)
        graft.operators.CorpusStats.slidingTokenChunks(docs, "doc_id",
            "text", model, chunkTokens = 64, stride = 48)
          .select(col("doc_id"), col("chunk_id"), col("n_tok"),
            aggregate(col("ids"), lit(0L),
              (acc, x) => acc + x.cast("long")).as("id_sum"),
            aggregate(zip_with(col("ids"),
                sequence(lit(1L), size(col("ids")).cast("long")),
                (x, i) => x.cast("long") * i),
              lit(0L), (acc, x) => acc + x).as("possum"))
      },
      Some("""
        WITH RECURSIVE nn AS (
          SELECT count(*) AS n,
                 sum(CAST(doc_id AS BIGINT) + len(text)) AS fp
          FROM documents),
        bm AS (
          SELECT rank, l, r, merged, id
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_merges/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        bb AS (
          SELECT byte, sym
          FROM read_parquet('/tmp/graft_ann_oracle/bpe_bytes/*/*/*.parquet',
                            hive_partitioning = true)
          WHERE n = (SELECT n FROM nn) AND fp = (SELECT fp FROM nn)),
        pieces AS (
          SELECT doc_id, unnest(pl) AS piece,
                 generate_subscripts(pl, 1) AS pi
          FROM (SELECT doc_id,
                       regexp_extract_all(text,
                         ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+') AS pl
                FROM documents)),
        dp AS (SELECT DISTINCT piece FROM pieces),
        init AS (
          SELECT piece, list(sym ORDER BY i) AS syms
          FROM (SELECT piece, unnest(string_split(piece, '')) AS ch,
                       generate_subscripts(string_split(piece, ''), 1) AS i
                FROM dp)
          JOIN bb ON bb.byte = unicode(ch)
          GROUP BY piece),
        steps AS (
          SELECT piece, syms, 0 AS it FROM init
          UNION ALL
          SELECT s.piece,
                 s.syms[1:bp.pos-1] || [bp.merged] || s.syms[bp.pos+2:],
                 s.it + 1
          FROM steps s
          JOIN LATERAL (
            SELECT m.rank, m.merged, u.i AS pos
            FROM (SELECT unnest(s.syms) AS a,
                         generate_subscripts(s.syms, 1) AS i) u
            JOIN bm m ON m.l = u.a AND m.r = s.syms[u.i + 1]
            ORDER BY m.rank, u.i
            LIMIT 1) bp ON true),
        fin AS (
          SELECT piece, syms FROM (
            SELECT piece, syms, row_number() OVER (PARTITION BY piece
                     ORDER BY it DESC) AS rn
            FROM steps) WHERE rn = 1),
        vocab AS (
          SELECT merged AS sym, id FROM bm
          UNION ALL
          SELECT sym, byte AS id FROM bb),
        pids AS (
          SELECT f.piece, list(v.id ORDER BY f.si) AS ids
          FROM (SELECT piece, unnest(syms) AS sym,
                       generate_subscripts(syms, 1) AS si
                FROM fin) f
          JOIN vocab v USING (sym)
          GROUP BY f.piece),
        tok AS (
          SELECT p.doc_id, t.id,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY p.pi, t.ti) AS dti
          FROM pieces p
          JOIN (SELECT piece, unnest(ids) AS id,
                       generate_subscripts(ids, 1) AS ti
                FROM pids) t USING (piece)),
        dlen AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok
          GROUP BY doc_id),
        g AS (
          SELECT t.doc_id, t.id,
                 CAST(u.o AS INTEGER) AS chunk_id,
                 t.dti - u.o * 48 AS wpos
          FROM tok t
          JOIN dlen d USING (doc_id)
          JOIN LATERAL (
            SELECT unnest(range(
              greatest(0, (t.dti - 64 + 48 - 1) // 48),
              least((t.dti - 1) // 48, (d.n - 1) // 48) + 1)) AS o) u
            ON true)
        SELECT doc_id, chunk_id,
               CAST(count(*) AS INTEGER) AS n_tok,
               CAST(sum(CAST(id AS BIGINT)) AS BIGINT) AS id_sum,
               CAST(sum(CAST(id AS BIGINT) * wpos) AS BIGINT) AS possum
        FROM g GROUP BY doc_id, chunk_id"""),
      "sliding context windows over EXACT BPE token ids (64-token " +
        "chunks, stride 48): engine slices the per-row id array once, " +
        "oracle re-derives every token's chunk memberships in SQL " +
        "through the full merge-loop replay; possum pins within-chunk " +
        "token order"),

    // the standing lexical index (r18): BM25 top-k answered from the
    // persisted postings table instead of a per-call corpus explode —
    // the lexical twin of q133's standing ANN shape. ensureLexIndex
    // builds once per corpus key (the q138 docs-key discipline:
    // count + sum(doc_id + length(text)), exact integer arithmetic in
    // both engines); steady state is a bucket-pruned scan of the
    // probe vocabulary's buckets, stats from the generations table.
    // The oracle recomputes the ENTIRE scoring from raw documents —
    // postings, df, N/T, quantized idf, DECIMAL integral divide — so
    // it proves the persisted state faithfully represents the corpus,
    // not merely that the engine is self-consistent.
    QuerySpec("q139_bm25_indexed",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 101 =!= 0)
        val probes = docs.filter(col("doc_id") % 101 === 0)
        graft.operators.LexIndex.ensureLexIndex(corpus, "doc_id",
          "text", base = "graft_lex_q139", key = VectorQueries.docsKey(corpus), buckets = 8)
        graft.operators.LexIndex.bm25TopKIndexed(s, probes, "doc_id",
          "text", base = "graft_lex_q139", k = 10)
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 101 <> 0),
        probes AS (
          SELECT doc_id AS q_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 101 = 0),
        qterms AS (SELECT DISTINCT q_id, unnest(t) AS term FROM probes),
        qvocab AS (SELECT DISTINCT term FROM qterms),
        posts AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM corpus)
          GROUP BY 1, 2),
        lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM corpus),
        tot AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
                 (SELECT CAST(coalesce(sum(len), 0) AS BIGINT) FROM lens)
                   AS n_toks),
        dfx AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM posts JOIN qvocab USING (term) GROUP BY 1),
        idf AS (
          SELECT term,
                 CAST(floor((ln(CAST(n_docs AS DOUBLE) * 2 + 2)
                           - ln(CAST(df AS DOUBLE) * 2 + 1))
                        * CAST(1e6 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                   AS BIGINT) AS idf_u
          FROM dfx CROSS JOIN tot),
        bcontrib AS (
          SELECT qt.q_id, p.doc_id,
                 (CAST(i.idf_u AS HUGEINT) * 22 * p.tf * z.n_toks)
                 // (CAST(p.tf AS HUGEINT) * 10 * z.n_toks
                     + CAST(z.n_toks AS HUGEINT) * 3
                     + CAST(l.len AS HUGEINT) * 9 * z.n_docs) AS c_u
          FROM posts p
          JOIN qterms qt USING (term)
          JOIN idf i USING (term)
          JOIN lens l ON l.doc_id = p.doc_id
          CROSS JOIN tot z),
        bscored AS (
          SELECT q_id, doc_id, CAST(sum(c_u) AS BIGINT) AS score_u
          FROM bcontrib GROUP BY 1, 2)
        SELECT q_id, rank, doc_id, score_u
        FROM (SELECT q_id, doc_id, score_u,
                     CAST(row_number() OVER (PARTITION BY q_id
                       ORDER BY score_u DESC, doc_id) AS INTEGER) AS rank
              FROM bscored)
        WHERE rank <= 10"""),
      "BM25 top-10 per eval probe from the PERSISTED postings index " +
        "(built once per corpus key, probe-vocabulary bucket-pruned " +
        "scan, N/T from the stats generations): the oracle recomputes " +
        "the full integer-exact Okapi scoring from raw documents"),

    // lexical standing-index DELETES (r18, the q141 twin with the BM25
    // extra): a deleted doc must leave the corpus SCALARS too — N and
    // T feed idf and length normalization — so each tombstone row
    // carries the doc's own token count (read from its postings at
    // tombstone time) and query-time N/T = stats generations MINUS
    // tombstone shares. The oracle recomputes the whole scoring from
    // raw documents with the deleted docs excluded from the corpus:
    // the engine must agree from the FULL index plus the tombstones,
    // proving df, idf, N and T all exclude them exactly.
    QuerySpec("q142_lex_deletes",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 101 =!= 0)
        val probes = docs.filter(col("doc_id") % 101 === 0)
        graft.operators.LexIndex.ensureLexIndex(corpus, "doc_id",
          "text", base = "graft_lex_q142", key = VectorQueries.docsKey(corpus), buckets = 8)
        graft.operators.LexIndex.tombstoneLexDocs(s, "graft_lex_q142",
          corpus.filter(col("doc_id") % 7 === 1).select("doc_id"))
        graft.operators.LexIndex.bm25TopKIndexed(s, probes, "doc_id",
          "text", base = "graft_lex_q142", k = 10)
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 101 <> 0 AND doc_id % 7 <> 1),
        probes AS (
          SELECT doc_id AS q_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 101 = 0),
        qterms AS (SELECT DISTINCT q_id, unnest(t) AS term FROM probes),
        qvocab AS (SELECT DISTINCT term FROM qterms),
        posts AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM corpus)
          GROUP BY 1, 2),
        lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM corpus),
        tot AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
                 (SELECT CAST(coalesce(sum(len), 0) AS BIGINT) FROM lens)
                   AS n_toks),
        dfx AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM posts JOIN qvocab USING (term) GROUP BY 1),
        idf AS (
          SELECT term,
                 CAST(floor((ln(CAST(n_docs AS DOUBLE) * 2 + 2)
                           - ln(CAST(df AS DOUBLE) * 2 + 1))
                        * CAST(1e6 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                   AS BIGINT) AS idf_u
          FROM dfx CROSS JOIN tot),
        bcontrib AS (
          SELECT qt.q_id, p.doc_id,
                 (CAST(i.idf_u AS HUGEINT) * 22 * p.tf * z.n_toks)
                 // (CAST(p.tf AS HUGEINT) * 10 * z.n_toks
                     + CAST(z.n_toks AS HUGEINT) * 3
                     + CAST(l.len AS HUGEINT) * 9 * z.n_docs) AS c_u
          FROM posts p
          JOIN qterms qt USING (term)
          JOIN idf i USING (term)
          JOIN lens l ON l.doc_id = p.doc_id
          CROSS JOIN tot z),
        bscored AS (
          SELECT q_id, doc_id, CAST(sum(c_u) AS BIGINT) AS score_u
          FROM bcontrib GROUP BY 1, 2)
        SELECT q_id, rank, doc_id, score_u
        FROM (SELECT q_id, doc_id, score_u,
                     CAST(row_number() OVER (PARTITION BY q_id
                       ORDER BY score_u DESC, doc_id) AS INTEGER) AS rank
              FROM bscored)
        WHERE rank <= 10"""),
      "lexical standing-index deletes: tombstone rows carry their " +
        "doc's token count, so df, idf, N and T all exclude deleted " +
        "docs exactly; oracle rescores from raw documents minus the " +
        "deleted set — the engine answers from the full index plus " +
        "tombstones"),

    // near-dedup standing-state DELETES (r19, closing the third
    // standing state's delete-symmetry gap): a doc removed from the
    // corpus must stop SHADOWING future near-duplicates — its
    // signature would otherwise suppress every later copy forever —
    // and stop generating candidate collisions. Tombstoned ids ride a
    // tiny table both bucketed state reads anti-join; compaction
    // applies physically. The oracle replays the one-shot banding over
    // (history MINUS the deleted docs) ∪ batch: the engine must agree
    // while answering from the FULL signature state plus tombstones.
    QuerySpec("q143_dedup_deletes",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val (_, state1) = graft.operators.Dedup.incrementalNearDedup(
          docs.filter(col("doc_id") < 250), "doc_id", "text",
          None, n = 3, k = 64, bands = 8, threshold = 0.5,
          baseHash = Some(Dedup.md5Hash60))
        graft.operators.Dedup.resetDedupState(s, "graft_dedup_q143")
        graft.operators.Dedup.writeDedupState(state1, "graft_dedup_q143",
          k = 64, bands = 8, buckets = 8)
        graft.operators.Dedup.tombstoneDedupDocs(s, "graft_dedup_q143",
          docs.filter(col("doc_id") < 250 && col("doc_id") % 7 === 1)
            .select("doc_id"))
        val (survivors, _) =
          graft.operators.Dedup.incrementalNearDedupBucketed(s,
            docs.filter(col("doc_id") >= 250), "doc_id", "text",
            "graft_dedup_q143", n = 3, k = 64, bands = 8, threshold = 0.5,
            baseHash = Some(Dedup.md5Hash60))
        survivors.select(col("doc_id"), col("source"))
      },
      // q94's one-shot banding replay, with the deleted history docs
      // excluded from the SHADOWING side (x) — they can no longer drop
      // anything; batch docs (id ≥ 250) still shadow each other
      Some(s"""
        WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks)-2)])) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        hx AS (
          SELECT doc_id, ${md5Hash60Sql("s")} % 2147483647 AS x FROM sh),
        params AS (
          SELECT i,
            ((i + 43) * 2654435761) % 2147483646 + 1 AS a,
            CAST(((i + 43)::HUGEINT * 1229782938247303441)
                 % 2305843009213693951 AS BIGINT) AS b
          FROM generate_series(0, 63) t(i)),
        mins AS (
          SELECT doc_id, i, min((x * a + b) % 2305843009213693951) AS m
          FROM hx CROSS JOIN params GROUP BY doc_id, i),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sg FROM mins GROUP BY doc_id),
        banded AS (
          SELECT doc_id, band, sg[band*8+1 : band*8+8] AS slc
          FROM sig CROSS JOIN generate_series(0, 7) g(band)),
        drops AS (
          SELECT DISTINCT y.doc_id AS doc_b
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.slc = y.slc AND x.doc_id < y.doc_id
          JOIN sig sa ON sa.doc_id = x.doc_id
          JOIN sig sb ON sb.doc_id = y.doc_id
          WHERE y.doc_id >= 250
            AND (x.doc_id >= 250 OR x.doc_id % 7 <> 1)
            AND CAST(len(list_filter([sa.sg[i] = sb.sg[i]
                                      for i in generate_series(1, 64)],
                                     z -> z)) AS DOUBLE) / 64
                  >= CAST(0.5 AS DOUBLE))
        SELECT doc_id, source FROM documents
        WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_b FROM drops)"""),
      "near-dedup standing-state deletes: tombstoned docs stop " +
        "shadowing and stop colliding — batch survivors equal a state " +
        "that never ingested them; the engine answers from the full " +
        "bucketed signature/band state plus the tombstone anti-join")
  )
}
