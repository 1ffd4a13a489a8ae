package graft.suite

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextFunctions
import graft.functions.Scalars
import Registry.tbl

/** Text-analysis extension suite over `documents`. The SQL fragment
  * helpers are shared with the composed corpus-cleaning pipeline
  * (SamplingQueries), so Spark and oracle semantics can't drift apart.
  */
object TextQueries {

  /** Shared BM25 term-frequency index (fingerprinted, parquet-spilled)
    * — the tokenize+explode over the corpus runs once per session, not
    * once per query execution.
    */
  private def sharedBm25Tf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "documents", "bm25_tf")(
      graft.text.Corpus.bm25Tf(Registry.tbl(s, dir, "documents"),
        "doc_id", "text"))

  /** The doc-length half of the index (doc_id, dl) — a production BM25
    * index STORES doc lengths, it does not recount them per query.
    */
  private def sharedBm25Dl(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "documents", "bm25_dl")(
      sharedBm25Tf(s, dir).groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl")))

  /** The per-term half of the index (word_id, df, ttf) — ditto. */
  private def sharedBm25Df(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "documents", "bm25_df")(
      graft.text.Corpus.termStats(sharedBm25Tf(s, dir)))

  /** Corpus unigram count table `(word, cw)` — the training half of
    * every count-based LM/collocation shape (r13, verdict #6): a
    * production pipeline trains term counts once at ingest and scores
    * against them, exactly like the BM25 halves above. Keyed on the
    * RAW whitespace token (the bm25 index is word_id-hashed — different
    * key space).
    */
  private[suite] def sharedUnigramCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "documents", "unigram_counts")(
      Registry.tbl(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cw")))

  /** Corpus bigram count table `(w1, w2, c2)` — UNFILTERED: consumers
    * apply their own support thresholds (collocations keeps >= 5), and
    * the unfiltered total sum(c2) is the corpus bigram count the PMI
    * normalizer needs (equal to sum over docs of max(len-1, 0) — every
    * doc emits exactly len-1 bigrams). Documents with fewer than 2
    * tokens emit none and are dropped before the slices: an empty token
    * array would make `slice(ts, 1, -1)` throw.
    */
  private[suite] def sharedBigramCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "documents", "bigram_counts")(
      Registry.tbl(s, dir, "documents")
        .select(TextFunctions.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))

  /** Bench setup hook: build the shared text index (all three persisted
    * halves) plus the unigram/bigram count tables up front so their
    * cost lands in the declared setup phase.
    */
  def prebuildArtifacts(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    sharedBm25Tf(s, dir); sharedBm25Dl(s, dir); sharedBm25Df(s, dir)
    sharedUnigramCounts(s, dir); sharedBigramCounts(s, dir); ()
  }

  /** DuckDB mirror of TextFunctions.qualityScore over a `toks` list
    * column and the raw `text` column.
    */
  def qualitySql(textCol: String, toksCol: String): String = {
    val stops = TextFunctions.enStopwords.map(w => s"'$w'").mkString(", ")
    s"""CASE WHEN len($toksCol) > 0
             THEN CAST(length($textCol) AS DOUBLE) / CAST(len($toksCol) AS DOUBLE)
             ELSE 0.0 END
        + (CASE WHEN len($toksCol) > 0
             THEN CAST(len(list_filter($toksCol, x -> list_contains([$stops], x))) AS DOUBLE)
                  / CAST(len($toksCol) AS DOUBLE)
             ELSE 0.0 END) * 10.0"""
  }

  /** DuckDB mirror of TextFunctions.langId: (select-list of per-language
    * scores over `toksCol`, CASE expression over those scores).
    */
  def langSql(toksCol: String): (String, String) = {
    val scores = TextFunctions.langMarkers.map { case (lang, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($toksCol, x -> list_contains([$list], x))) AS s_$lang"
    }.mkString(", ")
    val langs = TextFunctions.langMarkers.map(_._1)
    val allZero = langs.map(l => s"s_$l = 0").mkString(" AND ")
    val cases = (s"WHEN $allZero THEN 'und'" +: langs.map { l =>
      val geAll = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }).mkString(" ")
    (scores, s"CASE $cases ELSE 'und' END")
  }

  def all: Seq[QDef] = Seq(

    QDef(
      "text_token_count",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        FROM documents ORDER BY doc_id""")),

    QDef(
      "text_token_count_bpe",
      (s, dir) =>
        // BPE-ish pre-tokenizer count next to the whitespace count: the
        // pattern (letter runs | digit runs | punctuation runs) is
        // lookahead-free, so the IDENTICAL regex runs in Java and RE2 —
        // a pure codegen'd projection, no UDF
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens_ws"),
            TextFunctions.tokenCountBpeIsh(col("text")).cast("long")
              .as("n_tokens_bpe"))
          .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id,
               CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens_ws,
               CAST(len(regexp_extract_all(text,
                 '${graft.text.TextFunctions.BpeIshPattern}')) AS BIGINT)
                 AS n_tokens_bpe
        FROM documents ORDER BY doc_id""")),

    QDef(
      "text_quality_score",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.qualityScore(col("text")).as("score"))
          .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, text,
              string_split_regex(text, '\\s+') AS toks FROM documents)
        SELECT doc_id, ${qualitySql("text", "toks")} AS score
        FROM t ORDER BY doc_id""")),

    QDef(
      "text_lang_id",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      Some {
        val (scores, caseExpr) = langSql("toks")
        s"""WITH t AS (SELECT doc_id,
              string_split_regex(text, '\\s+') AS toks FROM documents),
            sc AS (SELECT doc_id, $scores FROM t)
            SELECT doc_id, $caseExpr AS lang_pred
            FROM sc ORDER BY doc_id"""
      }),

    QDef(
      "text_langid_confusion",
      (s, dir) =>
        // the language-ID quality report: confusion matrix of the
        // stored lang column vs the n-gram-heuristic prediction —
        // off-diagonal mass is exactly the docs a lang-filtered corpus
        // would mis-route. Prediction runs per row (codegen'd, no
        // shuffle); the matrix is one map-side-combined count over a
        // |langs|^2-bounded key space.
        tbl(s, dir, "documents")
          .select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "lang_pred"),
      Some {
        val (scores, caseExpr) = langSql("toks")
        s"""WITH t AS (SELECT doc_id, lang,
              string_split_regex(text, '\\s+') AS toks FROM documents),
            sc AS (SELECT doc_id, lang, $scores FROM t),
            p AS (SELECT doc_id, lang, $caseExpr AS lang_pred FROM sc)
            SELECT lang, lang_pred, count(*) AS n
            FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""
      }),

    QDef(
      "text_fingerprint",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 131 + c) % ${Scalars.polyHashP}) AS fp
        FROM documents ORDER BY doc_id""")),

    QDef(
      "text_top_words",
      (s, dir) =>
        // corpus heavy hitters: global top-20 words by frequency —
        // orderBy().limit() plans as TakeOrderedAndProject (per-partition
        // top-k + tiny merge), never a global sort
        tbl(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("word"))
          .select(graft.dedup.Dedup.wordId(col("word")).as("word_id"))
          .groupBy(col("word_id")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word_id"))
          .limit(20),
      Some(s"""
        WITH toks AS (SELECT unnest(string_split_regex(text, '\\s+')) AS word
                      FROM documents)
        SELECT ${DedupQueries.wordHashSql("word")} AS word_id, count(*) AS n
        FROM toks GROUP BY 1 ORDER BY n DESC, word_id LIMIT 20""")),

    QDef(
      "text_readability",
      (s, dir) => {
        // Flesch reading-ease per document on EXACT integer counts, no
        // per-word explode: words = whitespace tokens; sentences =
        // terminator characters [.!?]; syllables = vowel groups, counted
        // corpus-portably as len(each [aeiou]+ group collapsed to one
        // char) − len(groups removed) — whitespace already breaks
        // groups, so the whole-text count equals the per-word sum. The
        // score is the fixed 206.835 − 1.015(w/s) − 84.6(sy/w) double
        // formula of the three exact integers, identical IEEE ops in
        // both engines. Pure projection — zero shuffles before the
        // presentation sort; the readability gate runs at corpus scan
        // speed at any corpus size.
        val t = lower(col("text"))
        val nWords = size(TextFunctions.tokens(col("text"))).cast("long")
        val nSents = length(regexp_replace(col("text"), "[^.!?]", "")).cast("long")
        val nSyll = (length(regexp_replace(t, "[aeiou]+", ".")) -
          length(regexp_replace(t, "[aeiou]+", ""))).cast("long")
        tbl(s, dir, "documents")
          .select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sents"),
            nSyll.as("n_syll"))
          .withColumn("flesch",
            when(col("n_sents") > 0 && col("n_words") > 0,
              lit(206.835) -
                lit(1.015) * (col("n_words").cast("double") /
                  col("n_sents").cast("double")) -
                lit(84.6) * (col("n_syll").cast("double") /
                  col("n_words").cast("double"))))
          .orderBy("doc_id")
      },
      Some("""
        WITH c AS (
          SELECT doc_id,
            CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
            CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) AS BIGINT)
              AS n_sents,
            CAST(length(regexp_replace(lower(text), '[aeiou]+', '.', 'g')) -
                 length(regexp_replace(lower(text), '[aeiou]+', '', 'g'))
              AS BIGINT) AS n_syll
          FROM documents)
        SELECT doc_id, n_words, n_sents, n_syll,
               CASE WHEN n_sents > 0 AND n_words > 0 THEN
                 206.835 - 1.015 * (CAST(n_words AS DOUBLE) /
                                    CAST(n_sents AS DOUBLE))
                         - 84.6 * (CAST(n_syll AS DOUBLE) /
                                   CAST(n_words AS DOUBLE)) END AS flesch
        FROM c ORDER BY doc_id""")),

    QDef(
      "text_bigram_topk",
      (s, dir) =>
        // corpus bigram frequencies, top 20: the adjacent-pair extraction
        // is array-side (zip_with over two shifted slices — zero shuffle
        // until the count groupBy); orderBy().limit() again plans as
        // TakeOrderedAndProject. ASCII-only corpus, so the string
        // tie-break collates identically in both engines.
        tbl(s, dir, "documents")
          .select(TextFunctions.tokens(col("text")).as("ts"))
          .select(explode(zip_with(
            slice(col("ts"), lit(1), size(col("ts")) - 1),
            slice(col("ts"), lit(2), size(col("ts")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20),
      Some("""
        WITH t AS (SELECT string_split_regex(text, '\s+') AS ts FROM documents),
        b AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i + 1])) AS bigram FROM t)
        SELECT bigram, count(*) AS n FROM b
        GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""")),

    QDef(
      "text_tfidf_topk",
      (s, dir) =>
        graft.text.Corpus.tfidfTopTerms(tbl(s, dir, "documents"),
            "doc_id", "text", k = 3)
          .orderBy("doc_id", "rank"),
      Some(s"""
        WITH toks AS (SELECT doc_id,
               unnest(string_split_regex(text, '\\s+')) AS word FROM documents),
        tf AS (SELECT doc_id, ${DedupQueries.wordHashSql("word")} AS word_id,
                 count(*) AS tf
               FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT word_id, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        sc AS (SELECT doc_id, word_id, tf, df,
                 tf * ((n_docs * 1048576) // df) AS score
               FROM tf JOIN dfreq USING (word_id), n),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, word_id) AS rank FROM sc)
        SELECT doc_id, word_id, tf, df, CAST(score AS BIGINT) AS score,
               CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")),

    QDef(
      "text_hapax_ratio",
      (s, dir) =>
        // vocabulary-richness audit: per source, type count, hapax
        // count (words used exactly once in that source), and the
        // hapax share in exact millionths — the low-richness signal
        // that flags templated/generated feeds (natural text keeps a
        // large hapax mass, boilerplate doesn't). Two map-side-combined
        // groupBys, shuffle keys are (source, 8-byte word hash).
        tbl(s, dir, "documents")
          .select(col("source"),
            explode(TextFunctions.tokens(col("text"))).as("word"))
          .select(col("source"), Dedup.wordId(col("word")).as("word_id"))
          .groupBy(col("source"), col("word_id"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_types"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
          .select(col("source"), col("n_types"), col("n_hapax"),
            expr("(1000000 * n_hapax) div n_types").as("hapax_x1e6"))
          .orderBy("source"),
      Some(s"""
        WITH toks AS (SELECT source,
                        ${DedupQueries.wordHashSql("word")} AS word_id
                      FROM (SELECT source,
                              unnest(string_split_regex(text, '\\s+')) AS word
                            FROM documents)),
        c AS (SELECT source, word_id, count(*) AS c FROM toks GROUP BY 1, 2),
        r AS (SELECT source, count(*) AS n_types,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax
              FROM c GROUP BY 1)
        SELECT source, n_types, n_hapax,
               (1000000 * n_hapax) // n_types AS hapax_x1e6
        FROM r ORDER BY source""")),

    QDef(
      "text_bm25_topk",
      (s, dir) =>
        // BM25 ranked retrieval against a corpus-derived 5-term query
        // (top total-frequency terms with df < N/2), exact-integer
        // fixed-point scoring (k1=1.2, b=0.75, PortableLog idf) so the
        // ranking is bit-reproducible — see Corpus.bm25TopDocs for the
        // scale shape (broadcast 5-term build side, TakeOrdered top-k).
        graft.text.Corpus.bm25TopDocs(tbl(s, dir, "documents"),
          "doc_id", "text", nTerms = 5, k = 20,
          tfOverride = Some(sharedBm25Tf(s, dir)),
          dlOverride = Some(sharedBm25Dl(s, dir)),
          dfOverride = Some(sharedBm25Df(s, dir))),
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        toks AS (SELECT doc_id,
               ${DedupQueries.wordHashSql("word")} AS word_id
               FROM (SELECT doc_id,
                       unnest(string_split_regex(text, '\\s+')) AS word
                     FROM documents)),
        tf AS (SELECT doc_id, word_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        dfreq AS (SELECT word_id, count(*) AS df,
                    CAST(sum(tf) AS BIGINT) AS ttf
                  FROM tf GROUP BY 1),
        nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        ll AS (SELECT CAST(sum(tf) AS BIGINT) AS toks_total FROM tf),
        qt AS (SELECT word_id, df FROM dfreq, nn WHERE df * 2 < n_docs
               ORDER BY ttf DESC, word_id LIMIT 5),
        sc AS (SELECT tf.doc_id,
                 ((dl.dl * 1024 * n_docs) // toks_total) AS nl_q10,
                 (${graft.functions.PortableLog.log2q10Sql("n_docs*2 - qt.df*2 + 1")}
                  - ${graft.functions.PortableLog.log2q10Sql("qt.df*2 + 1")}) AS idf_q10,
                 tf.tf
               FROM tf
               JOIN qt USING (word_id)
               JOIN dl ON dl.doc_id = tf.doc_id, nn, ll, l2t),
        sq AS (SELECT doc_id,
                 ((idf_q10 * tf * 45056) // (20480 * tf + 6144 + 18 * nl_q10))
                   AS score_q
               FROM sc),
        d AS (SELECT doc_id, count(*) AS n_terms,
                CAST(sum(score_q) AS BIGINT) AS bm25_q
              FROM sq GROUP BY 1),
        top AS (SELECT * FROM d ORDER BY bm25_q DESC, doc_id LIMIT 20)
        SELECT doc_id, n_terms, bm25_q,
               CAST(row_number() OVER (ORDER BY bm25_q DESC, doc_id) AS INT)
                 AS rank
        FROM top ORDER BY rank""")),

    QDef(
      "text_index_incremental",
      (s, dir) => {
        // incremental text-index maintenance (the dedup family's
        // incremental pattern applied to the BM25 term stats): docs
        // with doc_id % 5 = 0 play the newly-ingested batch, the rest
        // the persisted index. The base partition's per-term stats
        // (df, ttf) derive from the SHARED tf artifact — a filter +
        // re-aggregate on the persisted frame, no re-tokenize; ONLY
        // the new batch pays tokenize+explode; the merge is algebraic
        // (df and ttf are per-doc sums, so merged = base + delta term
        // by term). A corpus append therefore costs O(|batch|) + one
        // vocabulary-grain merge instead of a full index retrain. The
        // oracle recomputes the stats FROM SCRATCH over the whole
        // corpus — merged == retrained is the verified contract
        // (TextIndexIncrementalSpec pins it over the FULL vocabulary;
        // the registered result is the deterministic top-100 slice).
        val tf = sharedBm25Tf(s, dir)
        val base = graft.text.Corpus.termStats(
          tf.filter(col("doc_id") % 5 =!= 0))
        val delta = graft.text.Corpus.termStats(
          graft.text.Corpus.bm25Tf(
            tbl(s, dir, "documents").filter(col("doc_id") % 5 === 0),
            "doc_id", "text"))
        graft.text.Corpus.mergeTermStats(base, delta)
          .orderBy(col("ttf").desc, col("word_id")).limit(100)
      },
      Some(s"""
        WITH toks AS (SELECT doc_id,
               ${DedupQueries.wordHashSql("word")} AS word_id
               FROM (SELECT doc_id,
                       unnest(string_split_regex(text, '\\s+')) AS word
                     FROM documents)),
        tf AS (SELECT doc_id, word_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT word_id, count(*) AS df,
                    CAST(sum(tf) AS BIGINT) AS ttf
                  FROM tf GROUP BY 1)
        SELECT word_id, df, ttf FROM dfreq
        ORDER BY ttf DESC, word_id LIMIT 100""")),

    QDef(
      "pipeline_decontaminate",
      (s, dir) => {
        // train/eval contamination sweep: src0 is the held-out eval set;
        // training docs sharing >= 3 3-word shingles with any eval doc
        // are flagged (the n-gram-overlap decontamination every LLM
        // training pipeline runs before a dataset ships)
        val docs = tbl(s, dir, "documents")
        graft.text.Corpus.contamination(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", minShared = 3)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH ${DedupQueries.vocabSql}, ${DedupQueries.shingleSql},
        tr AS (SELECT s.doc_id, s.shingle FROM shing s
               JOIN documents d USING (doc_id) WHERE d.source != 'src0'),
        te AS (SELECT s.doc_id AS eval_id, s.shingle FROM shing s
               JOIN documents d USING (doc_id) WHERE d.source = 'src0'),
        ov AS (SELECT tr.doc_id, te.eval_id, count(*) AS shared
               FROM tr JOIN te USING (shingle) GROUP BY 1, 2),
        f AS (SELECT * FROM ov WHERE shared >= 3)
        SELECT doc_id, count(*) AS n_eval_hits, max(shared) AS max_shared
        FROM f GROUP BY doc_id ORDER BY doc_id""")),

    QDef(
      "text_repetition",
      (s, dir) =>
        graft.text.Corpus.repetitionSignals(tbl(s, dir, "documents"),
            "doc_id", "text")
          .orderBy("doc_id"),
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts
                   FROM documents),
        s AS (SELECT doc_id, len(ts) AS n_tok,
                CASE WHEN len(ts) > 0
                     THEN 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE)
                          / CAST(len(ts) AS DOUBLE)
                     ELSE 0.0 END AS dup_word_frac, ts
              FROM t),
        bg AS (SELECT doc_id, ts[pos] || ' ' || ts[pos + 1] AS bigram
               FROM (SELECT doc_id, ts,
                       unnest(generate_series(1, len(ts) - 1)) AS pos FROM s)),
        bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        bgs AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
                FROM bgc GROUP BY 1)
        SELECT s.doc_id, CAST(s.n_tok AS BIGINT) AS n_tok, s.dup_word_frac,
               coalesce(CAST(top_c AS DOUBLE) / CAST(n_bg AS DOUBLE), 0.0)
                 AS top_bigram_frac
        FROM s LEFT JOIN bgs USING (doc_id) ORDER BY doc_id""")),

    QDef(
      "text_pii_redact",
      (s, dir) => {
        // a deterministic PII injection makes the scrub observable (the
        // synthetic corpus carries no organic emails/phones); the same
        // augmentation runs verbatim in the oracle. Counting + redaction
        // are pure codegen'd regex expressions on the scan — zero shuffle.
        val aug = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text"))
        tbl(s, dir, "documents")
          .select(col("doc_id"), aug.as("t"))
          .select(col("doc_id"),
            TextFunctions.piiEmailCount(col("t")).cast("long").as("n_emails"),
            TextFunctions.piiPhoneCount(col("t")).cast("long").as("n_phones"),
            length(TextFunctions.piiRedact(col("t"))).cast("long").as("red_len"),
            TextFunctions.fingerprint(TextFunctions.piiRedact(col("t"))).as("red_fp"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH aug AS (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or +1 555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS t
             FROM documents),
        red AS (SELECT doc_id, t,
                  regexp_replace(regexp_replace(t,
                    '${TextFunctions.emailRe}', '<EMAIL>', 'g'),
                    '${TextFunctions.phoneRe}', '<PHONE>', 'g') AS r
                FROM aug)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '${TextFunctions.emailRe}')) AS BIGINT)
            AS n_emails,
          CAST(len(regexp_extract_all(t, '${TextFunctions.phoneRe}')) AS BIGINT)
            AS n_phones,
          CAST(length(r) AS BIGINT) AS red_len,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(r, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 131 + c) % ${Scalars.polyHashP}) AS red_fp
        FROM red ORDER BY doc_id""")),

    QDef(
      "corpus_inverted_index",
      (s, dir) =>
        graft.text.Corpus.invertedIndexFlat(tbl(s, dir, "documents"),
            "doc_id", "text", minDf = 2, maxDf = 450)
          .orderBy("word_id"),
      Some(s"""
        WITH toks AS (SELECT doc_id,
               unnest(string_split_regex(text, '\\s+')) AS word FROM documents),
        post AS (SELECT DISTINCT ${DedupQueries.wordHashSql("word")} AS word_id,
                   doc_id FROM toks)
        SELECT word_id, count(*) AS df,
               string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
        FROM post GROUP BY word_id
        HAVING count(*) BETWEEN 2 AND 450
        ORDER BY word_id""")),

    QDef(
      "text_boilerplate_ngrams",
      (s, dir) =>
        // boilerplate detection: word 5-grams repeated across >= 3
        // distinct documents (headers, footers, license blurbs — the
        // cross-document cut-and-paste that per-document dedup can't
        // see). The sliding window is a pure projection
        // (transform(sequence) + slice, all codegen'd builtins, no UDF).
        // The support count is TWO-PHASE (round 11, measured A/B in a
        // since-deleted probe):
        // (gram, doc) grain first — map-side combine kills in-doc
        // repeats — then the gram grain with a plain count + sum; the
        // single-pass countDistinct alternative plans as an expand that
        // puts every gram string on the shuffle TWICE (measured 8.3 vs
        // 2.0 s at sf1). The (gram, doc) exchange is WIDTH-PINNED
        // (REPARTITION_BY_NUM): it is pure CPU downstream (string-key
        // hash agg), and byte-sized AQE coalescing squeezed its ~500MB
        // onto ~8 of 32 cores — partitions for a CPU-bound stage should
        // track cores, not bytes (8.2 → ~2 s at sf1; sf0.1 unchanged).
        // At 100 TB the gram key space is huge but each partial
        // aggregate is bounded by its input split; low-support grams
        // die in the HAVING without ever being collected.
        tbl(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 5)
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0), size(col("w")) - lit(5)),
              i => concat_ws(" ", slice(col("w"), i + lit(1), lit(5))))).as("gram"))
          .repartition(s.sparkContext.defaultParallelism,
            col("gram"), col("doc_id"))
          .groupBy(col("gram"), col("doc_id"))
          .agg(count(lit(1)).as("n_in_doc"))
          .repartition(s.sparkContext.defaultParallelism, col("gram"))
          .groupBy(col("gram"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_in_doc")).as("n_occurrences"))
          .filter(col("n_docs") >= 3)
          .orderBy("gram"),
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
                   FROM documents),
        g AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
              FROM t, (SELECT unnest(generate_series(1, 1000)) AS i) ii
              WHERE len(w) >= 5 AND i + 4 <= len(w))
        SELECT gram, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences
        FROM g GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 3
        ORDER BY gram""")),

    QDef(
      "text_ngram_novelty",
      (s, dir) => {
        // novelty scoring for curriculum/dedup decisions: per document,
        // how many of its distinct word 5-grams does it INTRODUCE to
        // the corpus (global first occurrence by doc_id order)? Low
        // novelty = mostly recycled text. Grams ride as INTEGER keys
        // (polynomial fold of word ids mod P, the repo's hash-id
        // convention mirrored exactly in the oracle). Round-11 plan:
        // the (doc, gram) dedup happens MAP-SIDE (array_distinct on
        // the per-doc gram array — per-doc distinctness is a property
        // of the row, not the corpus), which deletes the old
        // corpus-wide distinct() shuffle outright; and BOTH outputs
        // fall out of the one introducer aggregation — n_novel(doc) is
        // just the count of grams whose min-doc IS doc (a gid-grain →
        // doc-grain re-aggregation of the introducer frame), and
        // n_grams(doc) the map-side-combined count of the exploded
        // stream — so the old 12M×10M gram-grain JOIN-BACK never
        // happens (sf1: 6.3 → ~2.5 s). A doc introduces ≥1 gram or
        // appears in n_grams only; the left join + coalesce(0) keeps
        // zero-novelty docs.
        val P = graft.functions.Scalars.polyHashP
        val grams = tbl(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 5)
          .select(col("doc_id"),
            transform(col("w"), t => graft.dedup.Dedup.wordId(t)).as("ws"))
          .select(col("doc_id"),
            explode(array_distinct(transform(
              sequence(lit(0), size(col("ws")) - lit(5)),
              i => aggregate(slice(col("ws"), i + lit(1), lit(5)), lit(0L),
                (acc, x) => (acc * lit(131L) + x) % lit(P))))).as("gram"))
        val perDoc = grams.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        val novel = grams.groupBy(col("gram"))
          .agg(min(col("doc_id")).as("first_doc"))
          .groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_novel"))
        perDoc.join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                   FROM documents),
        ids AS (SELECT doc_id,
                  list_transform(w, x -> ${DedupQueries.wordHashSql("x")}) AS ws
                FROM t),
        g AS (SELECT DISTINCT doc_id,
                list_reduce(list_prepend(CAST(0 AS BIGINT), ws[i:i+4]),
                  (acc, x) -> (acc * 131 + x)
                    % ${graft.functions.Scalars.polyHashP}) AS gram
              FROM ids, (SELECT unnest(generate_series(1, 1000)) AS i) ii
              WHERE len(ws) >= 5 AND i + 4 <= len(ws)),
        fs AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        SELECT g.doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel
        FROM g JOIN fs USING (gram)
        GROUP BY g.doc_id ORDER BY g.doc_id""")),

    QDef(
      "text_vocab_growth",
      (s, dir) => {
        // Heaps'-law vocabulary growth: new word types introduced per
        // doc_id decile, with the running vocabulary total. Each word's
        // introducer is one min-aggregation (map-side combinable);
        // deciles come from the integer doc_id range; the cumulative
        // curve is a 10-row window — the corpus-size-vs-vocab curve
        // every tokenizer change is sanity-checked against.
        val docs = tbl(s, dir, "documents")
        val maxId = org.apache.spark.sql.graft.ColumnBridge.scalar(
          docs.agg(max(col("doc_id")).as("m")))
        val firstSeen = docs
          .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("word"))
          .select(col("doc_id"), graft.dedup.Dedup.wordId(col("word")).as("word_id"))
          .groupBy(col("word_id")).agg(min(col("doc_id")).as("first_doc"))
        val perDecile = firstSeen
          .withColumn("decile", least(lit(9L),
            floor(col("first_doc") * 10 / (maxId + lit(1L))).cast("long")))
          .groupBy(col("decile")).agg(count(lit(1)).as("n_new_words"))
        perDecile
          .withColumn("cum_vocab", sum(col("n_new_words")).over(
            Window.orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("decile")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
                      FROM documents),
        fs AS (SELECT ${DedupQueries.wordHashSql("word")} AS word_id,
                 min(doc_id) AS first_doc
               FROM toks GROUP BY 1),
        mx AS (SELECT max(doc_id) AS m FROM documents),
        d AS (SELECT least(9, first_doc * 10 // ((SELECT m FROM mx) + 1)) AS decile,
                count(*) AS n_new_words
              FROM fs GROUP BY 1)
        SELECT decile, n_new_words,
               CAST(sum(n_new_words) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_vocab
        FROM d ORDER BY decile""")),

    QDef(
      "text_freq_spectrum",
      (s, dir) =>
        // Zipf frequency-of-frequencies: how many distinct word types
        // occur exactly tf times — the corpus-health curve (hapax mass,
        // head/tail balance) every tokenizer/dedup change gets checked
        // against. Two cascaded map-side-combined aggregations; output
        // is integer-only, so no string collation reaches the compare.
        tbl(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("tf"))
          .groupBy("tf").agg(count(lit(1)).as("n_types"))
          .orderBy("tf"),
      Some("""
        WITH toks AS (SELECT unnest(string_split_regex(text, '\s+')) AS word
                      FROM documents),
        tc AS (SELECT word, count(*) AS tf FROM toks GROUP BY word)
        SELECT tf, count(*) AS n_types FROM tc GROUP BY tf ORDER BY tf""")),

    QDef(
      "text_bigram_lm_score",
      (s, dir) => {
        // count-based bigram LM quality scoring — the perplexity-filter
        // shape (train counts on the corpus, score every document
        // against them) in exact integer arithmetic: each bigram
        // contributes floor(1e6 * (c2+1) / (c1+V)) (add-1 smoothing),
        // so scores are bit-identical in any engine — no libm log in
        // the compare path. V attaches as a scalar subquery (a query
        // constant, not a 1-row join); the count tables join back on
        // their natural keys. Two shuffles for training (bigram +
        // unigram groupBy), one for the per-doc rollup.
        // r13 (verdict #6): the count TABLES come from the shared
        // unigram/bigram count artifacts — train once at ingest, score
        // per query (the bm25 index pattern). The per-doc bigram frame
        // below stays in-query: scoring every document against the
        // counts is this query's work. c1/c2/V are bit-identical to
        // the inline aggregations they replace (same groupBy over the
        // same tokenization).
        val w = tbl(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
        val bigrams = w.filter(size(col("w")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(0), size(col("w")) - lit(2)),
            i => struct(
              element_at(col("w"), i + lit(1)).as("w1"),
              element_at(col("w"), i + lit(2)).as("w2")))).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val bc = sharedBigramCounts(s, dir)
        val uni = sharedUnigramCounts(s, dir)
          .withColumnRenamed("cw", "c1")
        val vocab = org.apache.spark.sql.graft.ColumnBridge.scalar(
          uni.agg(count(lit(1)).as("v")))
        bigrams
          .join(bc, Seq("w1", "w2"))
          .join(uni.withColumnRenamed("word", "w1"), Seq("w1"))
          .withColumn("__v", vocab)
          .withColumn("contrib",
            expr("(1000000 * (c2 + 1)) div (c1 + __v)"))
          .groupBy(col("doc_id"))
          .agg(sum(col("contrib")).as("lm_score_sum"),
            count(lit(1)).as("n_bigrams"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
                   FROM documents),
        bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
               FROM t, (SELECT unnest(generate_series(1, 1000)) AS i) ii
               WHERE i + 1 <= len(w)),
        bc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        uw AS (SELECT unnest(w) AS word FROM t),
        uc AS (SELECT word, count(*) AS c1 FROM uw GROUP BY word),
        v AS (SELECT count(*) AS v FROM uc)
        SELECT b.doc_id,
               CAST(sum((1000000 * (c.c2 + 1)) // (u.c1 + (SELECT v FROM v)))
                 AS BIGINT) AS lm_score_sum,
               count(*) AS n_bigrams
        FROM bg b
        JOIN bc c ON c.w1 = b.w1 AND c.w2 = b.w2
        JOIN uc u ON u.word = b.w1
        GROUP BY b.doc_id ORDER BY b.doc_id""")),

    QDef(
      "text_rake_keywords",
      (s, dir) => {
        // RAKE-style keyword extraction, corpus-wide: stopwords are the
        // data-derived top-10 words by frequency (rank-based — the
        // synthetic corpus has a 31-word vocabulary, so a threshold
        // split would be degenerate), candidate PHRASES are the maximal
        // stopword-free token runs, found by running the gaps-and-
        // islands operator over token positions (a gap in the surviving-
        // position sequence IS a stopword boundary — the reference's
        // signature semantic reused in the text domain). A word's score
        // = degree/frequency: degree sums the lengths of every phrase it
        // appears in. All integers; the ratio ships as exact millesimals.
        val ids = graft.dedup.Dedup.docWordIds(
          tbl(s, dir, "documents"), "doc_id", "text")
        val stop = ids.groupBy(col("word_id")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word_id")).limit(10)
          .select(col("word_id"))
        val content = ids.join(broadcast(stop), Seq("word_id"), "left_anti")
        val runs = graft.operators.Islands
          .assignIds(content, Seq("doc_id"), "pos", maxGap = 1L)
        val wp = Window.partitionBy(col("doc_id"), col("island_id"))
        runs.withColumn("phlen", count(lit(1)).over(wp))
          .groupBy(col("word_id"))
          .agg(count(lit(1)).as("freq"), sum(col("phlen")).as("degree"))
          .filter(col("freq") >= 3)
          .select(col("word_id"), col("freq"), col("degree"),
            expr("degree * 1000 div freq").as("score_x1000"))
          .orderBy(col("score_x1000").desc, col("word_id"))
          .limit(20)
      },
      Some(s"""
        WITH ${DedupQueries.vocabSql},
        stop AS (SELECT word_id FROM (
                   SELECT word_id, count(*) AS n FROM ids GROUP BY word_id
                   ORDER BY n DESC, word_id LIMIT 10)),
        content AS (SELECT doc_id, pos, word_id FROM ids
                    WHERE word_id NOT IN (SELECT word_id FROM stop)),
        r AS (SELECT doc_id, pos, word_id,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                  AS grp
              FROM content),
        ph AS (SELECT doc_id, grp, word_id,
                 count(*) OVER (PARTITION BY doc_id, grp) AS phlen
               FROM r),
        w AS (SELECT word_id, count(*) AS freq,
                CAST(sum(phlen) AS BIGINT) AS degree
              FROM ph GROUP BY word_id HAVING count(*) >= 3)
        SELECT word_id, freq, degree,
               degree * 1000 // freq AS score_x1000
        FROM w ORDER BY score_x1000 DESC, word_id LIMIT 20""")),

    QDef(
      "text_zipf_slope",
      (s, dir) => {
        // rank-free Zipf's-law fit: instead of ranking the whole
        // vocabulary (a global row_number over millions of words at
        // 100 TB), fit the COMPLEMENTARY CUMULATIVE frequency spectrum —
        // if freq ∝ rank^(−α) then #types-with-tf≥c ∝ c^(−1/α), so the
        // log-log slope of the suffix-summed spectrum recovers α from a
        // frame with O(√tokens) rows (distinct tf values), the only
        // globally-ordered window in the plan. Logs are integer
        // floor-log₂ via binary-string length (bin() agrees across
        // engines; no libm), and the OLS closes over exact integer
        // moments with two final double divisions.
        import org.apache.spark.sql.expressions.Window
        val spec = tbl(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("c"))
          .groupBy(col("c").as("tf")).agg(count(lit(1)).as("n_types"))
        val cum = spec.withColumn("cum_ge",
          sum(col("n_types")).over(Window.orderBy(col("tf").desc)))
        val pts = cum.select(
          (length(bin(col("tf"))) - 1).cast("long").as("x"),
          (length(bin(col("cum_ge"))) - 1).cast("long").as("y"))
        val m = pts.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        m.select(col("n").as("n_points"), slope.as("slope_log2"),
          (lit(-1.0) / slope).as("zipf_alpha"))
      },
      Some("""
        WITH toks AS (SELECT unnest(string_split_regex(text, '\s+')) AS word
                      FROM documents),
        wc AS (SELECT word, count(*) AS c FROM toks GROUP BY 1),
        spec AS (SELECT c AS tf, count(*) AS n_types FROM wc GROUP BY 1),
        cum AS (SELECT tf,
                  CAST(sum(n_types) OVER (ORDER BY tf DESC) AS BIGINT)
                    AS cum_ge FROM spec),
        pts AS (SELECT CAST(length(bin(tf)) - 1 AS BIGINT) AS x,
                       CAST(length(bin(cum_ge)) - 1 AS BIGINT) AS y
                FROM cum),
        m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                     sum(x * x) AS sxx, sum(x * y) AS sxy FROM pts)
        SELECT CAST(n AS BIGINT) AS n_points,
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE) AS slope_log2,
               -1.0 / (CAST(n * sxy - sx * sy AS DOUBLE) /
                       CAST(n * sxx - sx * sx AS DOUBLE)) AS zipf_alpha
        FROM m""")),

    QDef(
      "text_token_entropy",
      (s, dir) => {
        // per-document unigram Shannon entropy — the lexical-diversity
        // quality gate (low entropy = repetitive/template/gibberish
        // docs; the signal LLM corpus filters cut on). Exact where float
        // entropy isn't: PortableLog.log2q10 keeps every term an integer
        // (H·n·1024 = n·L(n) − Σ c·L(c) commutes across partitions), so
        // the hash gate can hold bit-for-bit. Shape: one (doc_id, word)
        // map-side-combined shuffle then a per-doc reduce — both
        // shrinking, no window, no sort until the final orderBy.
        import graft.functions.PortableLog.log2q10
        val wc = tbl(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("word"))
          .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        wc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
            sum(col("c") * log2q10(col("c"))).as("sl"))
          .select(col("doc_id"), col("n").as("n_tokens"), col("n_types"),
            ((col("n") * log2q10(col("n")) - col("sl")).cast("double") /
              (col("n") * graft.functions.PortableLog.Q).cast("double"))
              .as("entropy_bits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        toks AS (SELECT doc_id,
                   unnest(string_split_regex(text, '\\s+')) AS word
                 FROM documents),
        wc AS (SELECT doc_id, word, count(*) AS c FROM toks GROUP BY 1, 2),
        g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                count(*) AS n_types,
                CAST(sum(c * ${graft.functions.PortableLog.log2q10Sql("c")})
                  AS BIGINT) AS sl
              FROM wc, l2t GROUP BY doc_id)
        SELECT doc_id, n AS n_tokens, n_types,
               CAST(n * ${graft.functions.PortableLog.log2q10Sql("n")} - sl
                    AS DOUBLE) /
                 CAST(n * ${graft.functions.PortableLog.Q} AS DOUBLE)
                 AS entropy_bits
        FROM g, l2t ORDER BY doc_id""")),

    QDef(
      "text_collocations_pmi",
      (s, dir) => {
        // PMI collocation mining: bigrams that co-occur far above chance
        // (the multi-word-expression detector). PMI = log2(p_xy/p_x·p_y)
        // decomposes into a SUM of integer fixed-point logs —
        // L(c_xy) − L(c_x) − L(c_y) + 2·L(N_uni) − L(N_bi) — so no
        // big-product overflow at any corpus size and the hash gate
        // holds exactly. The two corpus totals attach as ONE uncorrelated
        // scalar subquery (no crossJoin, no BNLJ); count joins shuffle
        // on the word key only after the bigram frame has collapsed to
        // its >= MinC survivors.
        import graft.functions.PortableLog.log2q10
        val MinC = 5
        // r13 (verdict #6): count tables from the shared unigram/bigram
        // artifacts (train once, mine collocations per query — the
        // production collocation-miner shape). Every derived number is
        // bit-identical to the inline form it replaces: cw/cxy are the
        // same groupBys; N_uni = sum(cw) (each token counted once);
        // N_bi = sum of UNFILTERED c2 (each doc emits exactly len-1
        // bigrams, and `tokens` never yields an empty array, so the old
        // greatest(len-1, 0) guard was vacuous).
        val uniC = sharedUnigramCounts(s, dir)
        val bigC = sharedBigramCounts(s, dir)
        val uni = uniC.select(col("word").as("w"), col("cw"))
        val big = bigC.select(col("w1"), col("w2"), col("c2").as("cxy"))
          .filter(col("cxy") >= MinC)
        // 2·L(N_uni) − L(N_bi) as arithmetic over two uncorrelated
        // scalar subqueries (one per count table — a condition-less
        // 1-row×1-row join would plan a nested loop); integer log2q10
        // values, so the regrouped sum is bit-identical
        val kConst = org.apache.spark.sql.graft.ColumnBridge.scalar(
          uniC.agg(sum(col("cw")).as("nu"))
            .select(log2q10(col("nu")).as("l"))) * 2 -
          org.apache.spark.sql.graft.ColumnBridge.scalar(
            bigC.agg(sum(col("c2")).as("nb"))
              .select(log2q10(col("nb")).as("l")))
        val u1 = uni.select(col("w").as("w1"), col("cw").as("cw1"))
        val u2 = uni.select(col("w").as("w2"), col("cw").as("cw2"))
        big.join(u1, "w1").join(u2, "w2")
          .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
            col("cxy").as("n"),
            (log2q10(col("cxy")) - log2q10(col("cw1")) -
              log2q10(col("cw2")) + kConst).as("pmi_q10"))
          .orderBy(col("pmi_q10").desc, col("bigram"))
          .limit(20)
          .select(col("bigram"), col("n"),
            (col("pmi_q10").cast("double") / graft.functions.PortableLog.Q)
              .as("pmi_bits"))
      },
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        t AS (SELECT string_split_regex(text, '\\s+') AS ts FROM documents),
        uni AS (SELECT unnest(ts) AS w FROM t),
        uc AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
        bi AS (SELECT unnest(generate_series(1, len(ts) - 1)) AS i, ts FROM t),
        bc AS (SELECT ts[i] AS w1, ts[i + 1] AS w2, count(*) AS cxy
               FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM uni),
        nb AS (SELECT CAST(sum(greatest(len(ts) - 1, 0)) AS BIGINT) AS nbv
               FROM t),
        k AS (SELECT 2 * ${graft.functions.PortableLog.log2q10Sql("nu")}
                     - ${graft.functions.PortableLog.log2q10Sql("nbv")} AS kc
              FROM nn, nb, l2t),
        p AS (SELECT bc.w1 || ' ' || bc.w2 AS bigram, bc.cxy AS n,
                ${graft.functions.PortableLog.log2q10Sql("bc.cxy")}
                  - ${graft.functions.PortableLog.log2q10Sql("u1.cw")}
                  - ${graft.functions.PortableLog.log2q10Sql("u2.cw")}
                  + k.kc AS pmi_q10
              FROM bc JOIN uc u1 ON u1.w = bc.w1
                      JOIN uc u2 ON u2.w = bc.w2, k, l2t)
        SELECT bigram, n, CAST(pmi_q10 AS DOUBLE)
                 / ${graft.functions.PortableLog.Q} AS pmi_bits
        FROM p ORDER BY pmi_q10 DESC, bigram LIMIT 20""")),

    QDef(
      "text_kl_source_drift",
      (s, dir) => {
        // KL(source ‖ corpus) over unigram distributions — the
        // distribution-drift score that flags a source whose vocabulary
        // diverges from the corpus mix (domain skew, scraper breakage,
        // language contamination). The per-word term
        // c_sw·(L(c_sw·N) − L(C_w·n_s)) is an exact integer, so the sum
        // commutes and hashes stably; products stay < 2^53 for corpora
        // to ~10^8 tokens per side (beyond that, rescale counts — the
        // log difference only shifts by the same constant both sides).
        // Shape: (source,word) then word-keyed join of two shrinking
        // count frames; the corpus total rides in as a scalar subquery.
        import graft.functions.PortableLog.log2q10
        val wcs = tbl(s, dir, "documents")
          .select(col("source"),
            explode(TextFunctions.tokens(col("text"))).as("word"))
          .groupBy(col("source"), col("word")).agg(count(lit(1)).as("csw"))
        // r13 (verdict #6): the corpus-side distribution comes from the
        // shared unigram count table — sum over sources of csw IS the
        // corpus count per word, so cw and the nTot scalar are
        // bit-identical to the inline rollup they replace; the
        // per-source counts (this query's subject) stay in-query
        val glob = sharedUnigramCounts(s, dir)
        val ns = wcs.groupBy(col("source")).agg(sum(col("csw")).as("n_s"))
        val nTot = org.apache.spark.sql.graft.ColumnBridge.scalar(
          glob.agg(sum(col("cw"))))
        wcs.join(glob, "word").join(ns, "source")
          // the scalar subquery must not reach log2q10's lambda directly
          // (analysis forbids subqueries inside higher-order functions):
          // materialize both products as plain attributes first
          .select(col("source"), col("n_s"), col("csw"),
            (col("csw") * nTot).as("p_num"),
            (col("cw") * col("n_s")).as("p_den"))
          .select(col("source"), col("n_s"), col("csw"),
            (col("csw") * (log2q10(col("p_num")) - log2q10(col("p_den"))))
              .as("term"))
          .groupBy(col("source"))
          .agg(max(col("n_s")).as("n_tokens"), count(lit(1)).as("n_types"),
            sum(col("term")).as("klnum"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            (col("klnum").cast("double") /
              (col("n_tokens") * graft.functions.PortableLog.Q)
                .cast("double")).as("kl_bits"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        toks AS (SELECT source,
                   unnest(string_split_regex(text, '\\s+')) AS word
                 FROM documents),
        wcs AS (SELECT source, word, count(*) AS csw FROM toks GROUP BY 1, 2),
        gw AS (SELECT word, CAST(sum(csw) AS BIGINT) AS cw
                 FROM wcs GROUP BY 1),
        ns AS (SELECT source, CAST(sum(csw) AS BIGINT) AS n_s
               FROM wcs GROUP BY 1),
        nt AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM gw),
        terms AS (SELECT wcs.source, ns.n_s,
                    wcs.csw * (${graft.functions.PortableLog
                        .log2q10Sql("wcs.csw * nt.n")}
                      - ${graft.functions.PortableLog
                        .log2q10Sql("gw.cw * ns.n_s")}) AS term
                  FROM wcs JOIN gw USING (word)
                       JOIN ns USING (source), nt, l2t),
        g AS (SELECT source, max(n_s) AS n_tokens, count(*) AS n_types,
                CAST(sum(term) AS BIGINT) AS klnum
              FROM terms GROUP BY source)
        SELECT source, n_tokens, n_types,
               CAST(klnum AS DOUBLE) /
                 CAST(n_tokens * ${graft.functions.PortableLog.Q} AS DOUBLE)
                 AS kl_bits
        FROM g ORDER BY source""")),

    QDef(
      "text_log_odds_words",
      (s, dir) => {
        // "Fighting Words" (Monroe et al.): per-source top-5 most
        // distinguishing words by Dirichlet-smoothed log-odds-ratio of
        // source vs rest-of-corpus, z-scored. The log-odds delta is a
        // SUM of four integer fixed-point logs (PortableLog), so the
        // ranking key is an exact integer — ties break on the word, and
        // the hash gate holds. z converts to nats with one literal ln2
        // and closes with two unit divisions and a sqrt, all
        // correctly-rounded IEEE. Shape: one (source,word) shuffle, a
        // word-keyed margin join; corpus totals ride in as scalar
        // subqueries (no join at all — a constant-key broadcast join
        // folds its equi-key and degenerates to BroadcastNestedLoopJoin),
        // then a per-source top-5 window over the collapsed count frame.
        import graft.functions.PortableLog.log2q10
        import org.apache.spark.sql.graft.ColumnBridge
        val MinC = 5
        val wcs = tbl(s, dir, "documents")
          .select(col("source"),
            explode(TextFunctions.tokens(col("text"))).as("word"))
          .groupBy(col("source"), col("word")).agg(count(lit(1)).as("csw"))
        val gw = wcs.groupBy(col("word")).agg(sum(col("csw")).as("cw"))
        val ns = wcs.groupBy(col("source")).agg(sum(col("csw")).as("n_s"))
        val nTot = ColumnBridge.scalar(gw.agg(sum(col("cw"))))
        val vocab = ColumnBridge.scalar(gw.agg(count(lit(1))))
        val base = wcs.filter(col("csw") >= MinC)
          .join(gw, "word").join(ns, "source")
          .select(col("source"), col("word"), col("csw"), col("n_s"),
            col("cw"), nTot.as("n_tot"), vocab.as("vocab"))
          // scalar subqueries must not reach log2q10's lambda (analysis
          // forbids subqueries inside higher-order functions): the select
          // above materializes them as plain attributes first
          .select(col("source"), col("word"), col("csw"),
            (col("csw") + 1).as("a1"),
            (col("n_s") + col("vocab") - col("csw") - 1).as("a2"),
            (col("cw") - col("csw") + 1).as("b1"),
            (col("n_tot") - col("n_s") + col("vocab") -
              (col("cw") - col("csw")) - 1).as("b2"))
        val delta = log2q10(col("a1")) - log2q10(col("a2")) -
          log2q10(col("b1")) + log2q10(col("b2"))
        val scored = base.select(col("source"), col("word"), col("csw"),
          delta.as("delta_q10"),
          (lit(1.0) / col("a1").cast("double") +
            lit(1.0) / col("b1").cast("double")).as("variance"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("delta_q10").desc, col("word"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(col("source"), col("rn").cast("long").as("rn"), col("word"),
            col("csw"),
            (col("delta_q10").cast("double") /
              graft.functions.PortableLog.Q).as("delta_bits"),
            ((col("delta_q10").cast("double") *
              (0.6931471805599453 / graft.functions.PortableLog.Q)) /
              sqrt(col("variance"))).as("z_stat"))
          .orderBy(col("source"), col("rn"))
      },
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        toks AS (SELECT source,
                   unnest(string_split_regex(text, '\\s+')) AS word
                 FROM documents),
        wcs AS (SELECT source, word, count(*) AS csw FROM toks GROUP BY 1, 2),
        gw AS (SELECT word, CAST(sum(csw) AS BIGINT) AS cw FROM wcs GROUP BY 1),
        ns AS (SELECT source, CAST(sum(csw) AS BIGINT) AS n_s
               FROM wcs GROUP BY 1),
        tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tot,
                  count(*) AS vocab FROM gw),
        base AS (SELECT wcs.source, wcs.word, wcs.csw,
                   wcs.csw + 1 AS a1,
                   ns.n_s + tot.vocab - wcs.csw - 1 AS a2,
                   gw.cw - wcs.csw + 1 AS b1,
                   tot.n_tot - ns.n_s + tot.vocab -
                     (gw.cw - wcs.csw) - 1 AS b2
                 FROM wcs JOIN gw USING (word) JOIN ns USING (source), tot
                 WHERE wcs.csw >= 5),
        scored AS (SELECT source, word, csw,
                     ${graft.functions.PortableLog.log2q10Sql("a1")}
                       - ${graft.functions.PortableLog.log2q10Sql("a2")}
                       - ${graft.functions.PortableLog.log2q10Sql("b1")}
                       + ${graft.functions.PortableLog.log2q10Sql("b2")}
                       AS delta_q10,
                     1.0 / CAST(a1 AS DOUBLE) + 1.0 / CAST(b1 AS DOUBLE)
                       AS variance
                   FROM base, l2t),
        r AS (SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY delta_q10 DESC, word) AS rn FROM scored)
        SELECT source, CAST(rn AS BIGINT) AS rn, word, csw,
               CAST(delta_q10 AS DOUBLE)
                 / ${graft.functions.PortableLog.Q} AS delta_bits,
               (CAST(delta_q10 AS DOUBLE) *
                 (0.6931471805599453 / ${graft.functions.PortableLog.Q}))
                 / sqrt(variance) AS z_stat
        FROM r WHERE rn <= 5 ORDER BY source, rn""")),

    QDef(
      "text_tokenizer_fertility",
      (s, dir) =>
        // tokenizer-evaluation profile per source: BPE-ish tokens per
        // whitespace word ("fertility", the standard tokenizer-quality
        // number) and chars per BPE-ish token, as exact scaled-integer
        // ratios ((1000·a) div b — engine-identical truncation). One
        // narrow projection + one map-side-combined groupBy; the two
        // token counts are codegen'd regex scans, no explode.
        tbl(s, dir, "documents")
          .select(col("source"),
            TextFunctions.tokenCountBpeIsh(col("text")).cast("long").as("bt"),
            TextFunctions.tokenCount(col("text")).cast("long").as("wt"),
            col("n_chars"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("bt")).as("bpe_tokens"),
            sum(col("wt")).as("ws_tokens"), sum(col("n_chars")).as("n_chars"))
          .select(col("source"), col("n_docs"), col("bpe_tokens"),
            col("ws_tokens"),
            expr("(1000 * bpe_tokens) div ws_tokens").as("fertility_x1000"),
            expr("(1000 * n_chars) div bpe_tokens").as("chars_per_tok_x1000"))
          .orderBy("source"),
      Some(s"""
        WITH d AS (SELECT source,
                     CAST(len(regexp_extract_all(text,
                       '${TextFunctions.BpeIshPattern}')) AS BIGINT) AS bt,
                     CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS wt,
                     n_chars
                   FROM documents)
        SELECT source, count(*) AS n_docs,
               CAST(sum(bt) AS BIGINT) AS bpe_tokens,
               CAST(sum(wt) AS BIGINT) AS ws_tokens,
               (1000 * CAST(sum(bt) AS BIGINT)) // CAST(sum(wt) AS BIGINT)
                 AS fertility_x1000,
               (1000 * CAST(sum(n_chars) AS BIGINT)) // CAST(sum(bt) AS BIGINT)
                 AS chars_per_tok_x1000
        FROM d GROUP BY source ORDER BY source""")),

    QDef(
      "text_ngram_coverage_curve",
      (s, dir) => {
        // vocabulary-sizing curve: what fraction of all corpus bigram
        // OCCURRENCES do the top-K most frequent bigrams cover, at
        // K = 10 / 100 / 1000. One (gram)-keyed count of the corpus,
        // then each point is a TakeOrderedAndProject top-K + 1-row sum
        // — no global window, no rank over the full vocabulary; the
        // corpus total rides in as a scalar subquery. Coverage is the
        // exact integer (10^6·covered) div total, so the hash holds.
        // The bigram frame is referenced by all three top-K branches
        // PLUS the scalar total — localCheckpoint it once (the
        // MATERIALIZED-CTE mirror) or the corpus tokenize+explode+groupBy
        // replays up to 6 times.
        val bg = tbl(s, dir, "documents")
          .select(TextFunctions.tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(ws) - 1)," +
              " i -> concat(ws[i-1], ' ', ws[i]))")).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        val total = org.apache.spark.sql.graft.ColumnBridge.scalar(
          bg.agg(sum(col("c"))))
        Seq(10, 100, 1000).map { k =>
          bg.orderBy(col("c").desc, col("gram")).limit(k)
            .agg(sum(col("c")).as("covered"))
            .select(lit(k.toLong).as("k"), col("covered"),
              total.as("total"),
              expr(s"(1000000 * covered) div total").as("coverage_x1e6"))
        }.reduce(_ unionByName _).orderBy("k")
      },
      Some("""
        WITH toks AS (SELECT string_split_regex(text, '\s+') AS ws
                      FROM documents),
        bg AS (SELECT ws[i] || ' ' || ws[i + 1] AS gram, count(*) AS c
               FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
                     FROM toks WHERE len(ws) >= 2) q
               GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM bg),
        c10 AS (SELECT CAST(sum(c) AS BIGINT) AS covered FROM
                 (SELECT c FROM bg ORDER BY c DESC, gram LIMIT 10)),
        c100 AS (SELECT CAST(sum(c) AS BIGINT) AS covered FROM
                 (SELECT c FROM bg ORDER BY c DESC, gram LIMIT 100)),
        c1000 AS (SELECT CAST(sum(c) AS BIGINT) AS covered FROM
                 (SELECT c FROM bg ORDER BY c DESC, gram LIMIT 1000))
        SELECT k, covered, t AS total,
               (1000000 * covered) // t AS coverage_x1e6
        FROM (SELECT CAST(10 AS BIGINT) AS k, covered FROM c10
              UNION ALL SELECT 100, covered FROM c100
              UNION ALL SELECT 1000, covered FROM c1000), tot
        ORDER BY k""")),

    QDef(
      "text_bpe_train_merges",
      (s, dir) =>
        // REAL BPE merge training (Sennrich et al. 2016) on the
        // word-type grain: the corpus collapses to (word, count) once,
        // then BpeRounds argmax-pair rounds run over the vocabulary
        // frame — per round the driver collects exactly ONE row (the
        // winning pair), and the word frame is localCheckpoint'd so the
        // iterated plan stays flat (graft.text.Bpe). Deterministic:
        // integer counts, total-order tie-break (count desc, pair asc).
        bpeState(s, dir).filter(col("kind") === "merge")
          .select(col("merge_rank"), col("l_sym"), col("r_sym"),
            col("pair_count"))
          .orderBy("merge_rank"),
      Some {
        val union = (1 to BpeRounds).map { k =>
          s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS l_sym, " +
            s"r AS r_sym, c AS pair_count FROM b$k"
        }.mkString("\n          UNION ALL ")
        s"""${bpeCtes(BpeRounds)}
        SELECT * FROM ($union) ORDER BY merge_rank"""
      }),

    QDef(
      "text_bpe_vocab_topk",
      (s, dir) => {
        // the symbol vocabulary AFTER the learned merges apply: per-
        // symbol corpus frequencies of the final word-type frame
        // (weighted by word count), top 15. The trained state is the
        // shared session artifact — training runs once, both BPE
        // queries read it. The rank window runs AFTER the top-15
        // take, so it orders 15 rows, not the vocabulary.
        val sc = graft.text.Bpe.symbolCounts(
          bpeState(s, dir).filter(col("kind") === "word")
            .select(col("w"), col("cnt")))
        sc.orderBy(col("n_tok").desc, col("sym")).limit(15)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("n_tok").desc, col("sym"))).cast("long"))
          .select(col("rnk"), col("sym"), col("n_tok"))
          .orderBy("rnk")
      },
      Some(s"""${bpeCtes(BpeRounds)},
        sc AS (SELECT sym, CAST(sum(cnt) AS BIGINT) AS n_tok
               FROM (SELECT cnt, unnest(list_filter(string_split(w, ' '),
                       x -> x <> '')) AS sym FROM w$BpeRounds)
               GROUP BY 1),
        rk AS (SELECT sym, n_tok,
                 CAST(row_number() OVER (ORDER BY n_tok DESC, sym) AS BIGINT)
                   AS rnk
               FROM sc)
        SELECT rnk, sym, n_tok FROM rk WHERE rnk <= 15 ORDER BY rnk"""))
  )

  private val BpeRounds = 6

  /** Train-once-per-session BPE state: the learned merges and the final
    * symbolized word frame, tagged and unioned into ONE shared artifact
    * (kind = 'merge' | 'word') so both BPE queries cost a single
    * training run.
    */
  private def bpeState(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "documents", "bpe_state") {
      val wt = tbl(s, dir, "documents")
        .select(explode(TextFunctions.tokensBpeIsh(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val (merges, fin) =
        graft.text.Bpe.trainMerges(wt, "word", "cnt", BpeRounds)
      val mDf = s.createDataFrame(merges)
        .select(lit("merge").as("kind"), col("merge_rank"), col("l_sym"),
          col("r_sym"), col("pair_count"),
          lit(null).cast("string").as("w"), lit(null).cast("long").as("cnt"))
      val wDf = fin
        .select(lit("word").as("kind"), lit(null).cast("long").as("merge_rank"),
          lit(null).cast("string").as("l_sym"),
          lit(null).cast("string").as("r_sym"),
          lit(null).cast("long").as("pair_count"), col("w"), col("cnt"))
      mDf.unionByName(wDf)
    }

  /** DuckDB mirror of [[graft.text.Bpe.trainMerges]]: `rounds` unrolled
    * (pair-count → argmax → replace) CTE layers, each MATERIALIZED —
    * every layer reads the previous twice, so inlining would replay
    * 2^rounds plans (see Dedup.connectedComponents). Merge application is
    * the double-the-separators trick ([[graft.text.Bpe.applyMerge]]):
    * plain `replace` is a non-rescanning leftmost scan in both engines,
    * and with doubled separators that scan IS greedy leftmost merging,
    * so back-to-back occurrences ("a a a a") merge exactly as Sennrich's
    * reference does ("aa aa") — identically on both sides.
    */
  private def bpeCtes(rounds: Int): String = {
    val roundsSql = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
        SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS c
        FROM (SELECT cnt, syms,
                unnest(generate_series(1, len(syms) - 1)) AS i
              FROM (SELECT cnt, list_filter(string_split(w, ' '),
                      x -> x <> '') AS syms FROM w${k - 1}) s
              WHERE len(syms) >= 2) q
        GROUP BY 1, 2),
      b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
      w$k AS MATERIALIZED (
        SELECT regexp_replace(replace(replace(w, ' ', '  '),
                 ' ' || (SELECT l FROM b$k) || '  ' || (SELECT r FROM b$k) || ' ',
                 ' ' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || ' '),
                 ' +', ' ', 'g') AS w,
               cnt
        FROM w${k - 1})"""
    }.mkString(",\n      ")
    s"""WITH toks AS (SELECT unnest(regexp_extract_all(text,
             '${TextFunctions.BpeIshPattern}')) AS word FROM documents),
      wt AS (SELECT word, count(*) AS cnt FROM toks GROUP BY 1),
      w0 AS MATERIALIZED (
        SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS w,
               CAST(cnt AS BIGINT) AS cnt
        FROM wt),
      $roundsSql"""
  }
}
