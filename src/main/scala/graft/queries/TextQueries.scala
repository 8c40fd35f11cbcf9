package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TextOps

/** Text-analysis queries over the `documents` table — the training-
  * data-pipeline surface (north star): token counting, quality
  * scoring, language-ID, fingerprinting, and multimodal metadata
  * plumbing. All per-row expression work: the plans are a single
  * whole-stage-codegen projection over the parquet scan (plus the
  * result-edge ORDER BY for oracle determinism — verification surface
  * only, production sinks write unsorted).
  */
object TextQueries extends QueryPack {

  /** Token counting: whitespace tokens + BPE-ish subword estimate. */
  val tokenStats = GQuery(
    "q_token_stats",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextOps.bpeCount(col("text")).cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("chars"))
      .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS BIGINT) AS bpe_tokens,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents ORDER BY doc_id
    """))

  /** Quality scoring: stopword / diversity / length heuristics as
    * exact per-mille integers + class label. */
  val qualityScore = GQuery(
    "q_quality_score",
    (s, d) => {
      val qc = TextOps.qualityCols(col("text"))
      // hash-spread: the quality projection is one heavy scan-side
      // pass over a single-row-group file (Tables.spread scaladoc)
      Tables.spread(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id") +: qc.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, ${TextOps.qualitySql("text")}
      FROM documents ORDER BY doc_id
    """))

  /** Language-ID: marker-profile scores + argmax prediction, compared
    * with the tagged lang (accuracy is a property of the synthetic
    * corpus; the operator is the profile scan + argmax). */
  val langId = GQuery(
    "q_lang_id",
    (s, d) => {
      val scores = TextOps.langScores(col("text"))
      // hash-spread: the marker-profile scan dominates
      Tables.spread(s, Tables.documents(s, d), "doc_id").select(
        (col("doc_id") +: col("lang").as("tagged_lang") +:
          scores.map { case (n, c) => c.as(n) }) :+
          TextOps.predictedLang(col("text")).as("predicted_lang"): _*)
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, lang AS tagged_lang, ${TextOps.langSql("text")}
      FROM documents ORDER BY doc_id
    """))

  /** Fingerprinting: md5 content hash + portable position-weighted
    * polynomial rolling hash. */
  val fingerprint = GQuery(
    "q_doc_fingerprint",
    // measured r15: spreading this one was flat (0.46→0.49 s) — the
    // hash CPU is too small to amortize the exchange; left unspread
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextOps.md5Fingerprint(col("text")).as("md5_fp"),
      TextOps.polyFingerprint(col("text")).as("poly_fp"))
      .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, md5(text) AS md5_fp,
             ${TextOps.polyFingerprintSql("text")} AS poly_fp
      FROM documents ORDER BY doc_id
    """))

  // q_binary_meta moved to BinaryQueries: it now reads a REAL
  // binaryFile source and parses actual container-header bytes.

  /** Term-weighting over the corpus (tf·idf family): top-3 terms per
    * document by tf × (N/df). The idf is the exact rational N/df
    * rather than log(N/df): transcendental log is not bit-identical
    * across engines' libm, which would break the exact-integer oracle
    * discipline — the linear-icf variant keeps the whole pipeline in
    * BIGINT arithmetic (score_milli = tf·N·1000 div df). Plan shape is
    * the scalable one: explode → (doc,term) count → per-term df join
    * (term-keyed, broadcast-back) → bounded per-doc top-k window. */
  val tfidfTopTerms = GQuery(
    "q_tfidf_top_terms",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // measured r15: spreading was flat-to-worse (0.89→1.00 s) —
      // the explode feeds shuffle-bound aggregates; left unspread
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("_n"))
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("score_milli",
          expr("tf * _n * 1000 DIV df"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("score_milli").desc, col("term"))))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score_milli"), col("rank").cast("int").as("rank"))
        .orderBy("doc_id", "rank")
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tfc AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term),
      dfc AS (
        SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
      scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
               t.tf * (SELECT COUNT(*) FROM documents) * 1000 // d.df
                 AS score_milli
        FROM tfc t JOIN dfc d USING (term)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score_milli DESC, term) AS rank
        FROM scored)
      SELECT doc_id, term, tf, df, score_milli, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank
    """))

  /** PII scrubbing: the synthetic corpus carries no PII, so each row
    * is deterministically augmented with a planted email (+ a second
    * one every 3rd doc) and a phone before scrubbing — both engines
    * plant the identical bytes, then the oracle checks match counts
    * before, ZERO matches after, and the md5 of the redacted text
    * (which still varies per row through the original content). */
  val piiRedact = GQuery(
    "q_pii_redact",
    (s, d) => {
      val planted = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"),
            lit("@corp.example.org"))).otherwise(lit("")),
        lit(" or call +1 555 000 "),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val redacted = TextOps.redactPii(planted)
      // hash-spread: the regex redact/count pass dominates
      Tables.spread(s, Tables.documents(s, d), "doc_id").select(
        col("doc_id"),
        regexp_count(planted, lit(TextOps.EmailRe)).cast("long")
          .as("n_emails_before"),
        (regexp_count(redacted, lit(TextOps.EmailRe)) +
          regexp_count(redacted, lit(TextOps.PhoneRe))).cast("long")
          .as("n_pii_after"),
        md5(redacted).as("redacted_md5"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH planted AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com'
                    || (CASE WHEN doc_id % 3 = 0
                        THEN ' cc admin' || CAST(doc_id AS VARCHAR)
                             || '@corp.example.org' ELSE '' END)
                    || ' or call +1 555 000 '
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents),
      red AS (SELECT doc_id, t, ${TextOps.redactPiiSql("t")} AS r FROM planted)
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '${TextOps.EmailRe}')) AS BIGINT)
               AS n_emails_before,
             CAST(len(regexp_extract_all(r, '${TextOps.EmailRe}'))
                + len(regexp_extract_all(r, '${TextOps.PhoneRe}')) AS BIGINT)
               AS n_pii_after,
             md5(r) AS redacted_md5
      FROM red ORDER BY doc_id
    """))

  /** Context packing: documents greedily packed into 2048-token packs
    * across 8 parallel bucket streams (see [[graft.ops.Packing]] for
    * why bucketed, not one global cumsum). Result: per-pack fill
    * stats — the oracle checks every assignment decision through the
    * aggregate. */
  val tokenPacking = GQuery(
    "q_token_packing",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing
        .assignments(docs, "doc_id", col("n_tokens"),
          budget = 2048L, buckets = 8)
        .groupBy("pack_bucket", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("pack_tokens_doc").as("pack_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("pack_bucket", "pack_id")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      assigned AS (${graft.ops.Packing.assignmentsSql(
        "docs", "doc_id", "n_tokens", 2048L, 8)})
      SELECT pack_bucket, pack_id, COUNT(*) AS n_docs,
             CAST(SUM(pack_tokens_doc) AS BIGINT) AS pack_tokens,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM assigned
      GROUP BY pack_bucket, pack_id ORDER BY pack_bucket, pack_id
    """))

  /** Sliding-window chunking ([[graft.ops.Chunking]]): every document
    * split into 64-token windows with 16-token overlap — full chunk
    * TEXT compared byte-exactly (split / slice / re-join round-trips
    * identically in both engines under the single-space layer
    * contract), so every boundary decision is oracle-checked, not
    * just counts. */
  val chunkWindows = GQuery(
    "q_chunk_windows",
    (s, d) => graft.ops.Chunking.chunk(
      Tables.documents(s, d).select("doc_id", "text"),
      "text", Seq("doc_id"), size = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id"),
    Some(graft.ops.Chunking.chunkSql(
      "documents", "text", Seq("doc_id"), size = 64, overlap = 16) +
      " ORDER BY doc_id, chunk_id"))

  /** Vocabulary build + OOV coverage ([[graft.ops.Vocab]]): top-50
    * corpus vocabulary (deterministic tie-break), every document
    * scored for out-of-vocabulary rate against it. The oracle builds
    * its OWN vocab with the same ordering, so equality proves the
    * ranking boundary, not just the per-doc arithmetic. */
  val vocabOov = GQuery(
    "q_vocab_oov",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Vocab.oovStats(docs, "text", "doc_id",
        graft.ops.Vocab.topWords(docs, "text", 50))
        .orderBy("doc_id")
    },
    Some(graft.ops.Vocab.oovStatsSql(
      "documents", "text", "doc_id", 50) + " ORDER BY doc_id"))

  /** Benchmark-contamination detection ([[graft.ops.Contamination]]):
    * eval set = every 37th doc (stands in for a held-out benchmark),
    * probe = the rest; per probe doc the distinct word-5-gram overlap
    * against the broadcast eval shingle set, flagged at 50%. On this
    * corpus exactly the planted near-dup of an eval doc crosses the
    * flag — the background is 5-gram-disjoint (30-word vocab, 30^5
    * n-gram space vs ~700 eval shingles). */
  val contamination = GQuery(
    "q_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Contamination.overlapStats(
          docs.filter(col("doc_id") % 37 =!= 0),
          docs.filter(col("doc_id") % 37 === 0),
          "doc_id", "text", k = 5, flagAtMille = 500)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ev AS (
        SELECT DISTINCT unnest(${graft.ops.Dedup.shinglesSql("text", 5)}) AS sh
        FROM documents WHERE doc_id % 37 = 0),
      d AS (
        SELECT doc_id, unnest(${graft.ops.Dedup.shinglesSql("text", 5)}) AS sh
        FROM documents WHERE doc_id % 37 <> 0)
      SELECT d.doc_id,
             COUNT(*) AS n_ngrams,
             COUNT(ev.sh) AS n_hits,
             COUNT(ev.sh) * 1000 // COUNT(*) AS contaminated_milli,
             CAST(COUNT(ev.sh) * 1000 // COUNT(*) >= 500 AS INT)
               AS is_contaminated
      FROM d LEFT JOIN ev ON d.sh = ev.sh
      GROUP BY d.doc_id ORDER BY doc_id
    """))

  /** Gopher-style repetition metrics: duplicate-token fraction and the
    * most frequent word bigram's share of all bigrams (exact per-mille
    * integers; bigram tie-break = lexicographic min among max-count,
    * mirrored by both window specs). The distribution side of quality
    * filtering that q_quality_score's per-row ratios can't see. */
  val repetitionStats = GQuery(
    "q_repetition_stats",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // hash-spread: tokenization + bigram explode dominate
      val docs = Tables.spread(s, Tables.documents(s, d), "doc_id")
      val base = docs.select(col("doc_id"),
        TextOps.tokens(col("text")).as("t"),
        TextOps.bigrams(col("text")).as("bg"))
      val stats = base.select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        expr("(size(t) - size(array_distinct(t))) * 1000 div size(t)")
          .as("dup_token_milli"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("c").desc, col("bg").asc)
      val top = base.select(col("doc_id"), explode(col("bg")).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("bg").as("top_bigram"), col("c"))
      stats.join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("dup_token_milli"),
          col("top_bigram"),
          expr("c * 1000 div (n_tokens - 1)").as("top_bigram_milli"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      stats AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               (len(t) - len(list_distinct(t))) * 1000 // len(t)
                 AS dup_token_milli
        FROM toks),
      bg AS (
        SELECT doc_id, unnest(${TextOps.bigramsSql("text")}) AS bg
        FROM documents),
      cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      top AS (
        SELECT doc_id, bg AS top_bigram, c,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY c DESC, bg ASC) AS rn
        FROM cnt)
      SELECT s.doc_id, s.n_tokens,
             CAST(s.dup_token_milli AS BIGINT) AS dup_token_milli,
             t.top_bigram,
             t.c * 1000 // (s.n_tokens - 1) AS top_bigram_milli
      FROM stats s LEFT JOIN top t ON t.doc_id = s.doc_id AND t.rn = 1
      ORDER BY s.doc_id
    """))

  /** Boilerplate scoring — the cross-document counterpart of
    * q_repetition_stats: the fraction of a document's distinct word
    * 3-grams that are corpus-common (document frequency >= 20),
    * catching templated/boilerplate text that per-doc metrics can't
    * see (every header looks fine inside its own doc). Scale shape:
    * one shingle explode, one shuffle keyed on the shingle to count
    * document frequency (map-side combinable), one join back on the
    * same key, one per-doc agg — no self-join, no broadcast of the
    * (potentially huge) shingle vocabulary. */
  val boilerplateScore = GQuery(
    "q_boilerplate_score",
    (s, d) => {
      val MinDf = 20
      // hash-spread: the shingle explode dominates
      val sh = Tables.spread(s, Tables.documents(s, d), "doc_id")
        .select(col("doc_id"),
          explode(graft.ops.Dedup.shingles(col("text"), 3)).as("sh"))
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      sh.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          count(when(col("df") >= MinDf, 1)).as("n_common"))
        .select(col("doc_id"), col("n_ngrams"),
          col("n_common"),
          expr("n_common * 1000 div n_ngrams").as("boiler_milli"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest(${graft.ops.Dedup.shinglesSql("text", 3)}) AS sh
        FROM documents),
      dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
      SELECT s.doc_id, COUNT(*) AS n_ngrams,
             COUNT(CASE WHEN d.df >= 20 THEN 1 END) AS n_common,
             COUNT(CASE WHEN d.df >= 20 THEN 1 END) * 1000 // COUNT(*)
               AS boiler_milli
      FROM sh s JOIN dfreq d ON s.sh = d.sh
      GROUP BY s.doc_id ORDER BY s.doc_id
    """))

  /** Corpus diversity (distinct-n): per language, total vs distinct
    * unigram and bigram counts plus the milli distinct-2 ratio — the
    * standard degenerate-corpus gate (a synthetic or template-heavy
    * slice shows a collapsing distinct-n long before per-doc metrics
    * notice, because every doc looks fine inside itself).
    *
    * Scale shape: dedup-then-count — explode grams, ONE map-side-
    * combinable agg on (lang, gram), then a language-cardinality agg.
    * Never count(DISTINCT) mixed with count(*) in one agg: that plans
    * an Expand that doubles the exploded input (the q_sketch_distinct
    * lesson, 8.2→1.4 s). Integer milli ratio, no floats. */
  val distinctNgrams = GQuery(
    "q_distinct_ngrams",
    (s, d) => {
      val docs = Tables.documents(s, d)
      def level(gram: org.apache.spark.sql.Column, name: String) =
        docs.select(col("lang"), explode(gram).as("g"))
          .groupBy("lang", "g").agg(count(lit(1)).as("c"))
          .groupBy("lang")
          .agg(sum("c").as(s"${name}_total"),
            count(lit(1)).as(s"${name}_distinct"))
      level(TextOps.tokens(col("text")), "unigrams")
        .join(level(TextOps.bigrams(col("text")), "bigrams"), Seq("lang"))
        .withColumn("distinct2_milli",
          expr("bigrams_distinct * 1000 div bigrams_total"))
        .orderBy("lang")
    },
    Some(s"""
      WITH uni AS (
        SELECT lang, unnest(string_split(text, ' ')) AS g FROM documents),
      uc AS (SELECT lang, g, COUNT(*) AS c FROM uni GROUP BY 1, 2),
      u AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS unigrams_total,
                   COUNT(*) AS unigrams_distinct
            FROM uc GROUP BY lang),
      bi AS (
        SELECT lang, unnest(${TextOps.bigramsSql("text")}) AS g
        FROM documents),
      bc AS (SELECT lang, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
      b AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS bigrams_total,
                   COUNT(*) AS bigrams_distinct
            FROM bc GROUP BY lang)
      SELECT u.lang, u.unigrams_total, u.unigrams_distinct,
             b.bigrams_total, b.bigrams_distinct,
             b.bigrams_distinct * 1000 // b.bigrams_total
               AS distinct2_milli
      FROM u JOIN b ON u.lang = b.lang
      ORDER BY u.lang
    """))

  /** Padding-efficiency audit for length-bucketed batching: docs
    * grouped into token-length buckets (width 64); per bucket, the
    * milli fraction of compute wasted on padding if batches pad to
    * the bucket max — plus the corpus-wide waste if padded to the
    * GLOBAL max, the number bucketing exists to beat. All integer
    * arithmetic (counts, maxes, integer division); one
    * map-side-combinable agg keyed on the bucket. */
  val paddingEfficiency = GQuery(
    "q_padding_efficiency",
    (s, d) => {
      val docs = Tables.documents(s, d).select(
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      val buckets = docs
        .groupBy((col("n_tok") / 64).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          max("n_tok").as("max_tok"), sum("n_tok").as("sum_tok"))
        .withColumn("waste_milli",
          expr("(n_docs * max_tok - sum_tok) * 1000 div (n_docs * max_tok)"))
      val global = docs.agg(count(lit(1)).as("n_docs"),
          max("n_tok").as("max_tok"), sum("n_tok").as("sum_tok"))
        .select(lit(-1L).as("bucket"), col("n_docs"), col("max_tok"),
          col("sum_tok"),
          expr("(n_docs * max_tok - sum_tok) * 1000 div (n_docs * max_tok)")
            .as("waste_milli"))
      buckets.unionByName(global).orderBy("bucket")
    },
    Some("""
      WITH t AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      b AS (
        SELECT n_tok // 64 AS bucket, COUNT(*) AS n_docs,
               MAX(n_tok) AS max_tok, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        FROM t GROUP BY 1),
      g AS (
        SELECT CAST(-1 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
               MAX(n_tok) AS max_tok, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        FROM t)
      SELECT bucket, n_docs, max_tok, sum_tok,
             (n_docs * max_tok - sum_tok) * 1000 // (n_docs * max_tok)
               AS waste_milli
      FROM (SELECT * FROM b UNION ALL SELECT * FROM g)
      ORDER BY bucket
    """))

  /** Integer unigram-surprisal quality scoring
    * ([[TextOps.unigramSurprisal]]): the floor-log2 surrogate of
    * unigram cross-entropy, per doc, in milli. The oracle rebuilds the
    * corpus unigram model and the bitlen arithmetic from scratch over
    * token INSTANCES (unnest) where the engine works tf-weighted —
    * equal by construction, so the formulation difference is itself
    * part of the check. */
  val unigramSurprisal = GQuery(
    "q_unigram_surprisal",
    // measured r15: spreading regressed it (0.75→0.90 s) — the
    // explode feeds a shuffle-bound aggregate; left unspread
    (s, d) => TextOps.unigramSurprisal(
      Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
      sc AS (
        SELECT t.doc_id, (length(bin(n)) - length(bin(c))) AS s
        FROM tok t JOIN cnt USING (term) CROSS JOIN tot)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST((1000 * CAST(SUM(s) AS BIGINT)) // COUNT(*) AS BIGINT)
               AS surprisal_milli
      FROM sc GROUP BY doc_id ORDER BY doc_id
    """),
    eager = true) // N is a construct-time scalar (topFraction posture)

  /** C4-style cross-document boilerplate removal: strip 4-token
    * segments shared by >= 3 distinct docs, re-hash the scrubbed
    * text. The oracle recomputes segmentation, document frequency,
    * scrub, and ordinal-ordered reassembly independently (list
    * comprehension + zipped unnest vs transform/sequence +
    * posexplode). */
  val lineDedup = GQuery(
    "q_line_dedup",
    (s, d) => graft.ops.LineDedup
      .scrub(Tables.documents(s, d), "doc_id", "text", w = 4, minDocs = 3)
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      segd AS (
        SELECT doc_id,
               [array_to_string(tk[(g-1)*4+1:g*4], ' ')
                FOR g IN generate_series(1, CAST(ceil(len(tk)/4.0) AS INT))]
                 AS segs
        FROM toks),
      ex AS (
        SELECT doc_id, unnest(segs) AS seg,
               unnest(generate_series(1, len(segs))) AS ord
        FROM segd),
      freq AS (
        SELECT seg FROM ex GROUP BY seg
        HAVING count(DISTINCT doc_id) >= 3)
      SELECT e.doc_id,
             CAST(count(*) AS BIGINT) AS n_segs,
             CAST(count(*) FILTER (WHERE f.seg IS NULL) AS BIGINT)
               AS kept_segs,
             md5(coalesce(string_agg(
               CASE WHEN f.seg IS NULL THEN e.seg END, ' '
               ORDER BY e.ord), '')) AS new_md5
      FROM ex e LEFT JOIN freq f ON e.seg = f.seg
      GROUP BY e.doc_id ORDER BY e.doc_id
    """))

  /** The boilerplate lexicon itself: top segments by document
    * frequency (TakeOrderedAndProject — the bounded report the
    * operator's threshold is tuned from). */
  val segmentDfTop = GQuery(
    "q_segment_df_top",
    (s, d) => {
      val ex = graft.ops.LineDedup
        .explodeSegments(Tables.documents(s, d), "doc_id", "text", w = 4)
      graft.ops.LineDedup.boilerplate(ex, "doc_id", minDocs = 3)
        .select(col("seg"), col("df").cast("long").as("df"))
        .orderBy(col("df").desc, col("seg")).limit(40)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      segd AS (
        SELECT doc_id,
               [array_to_string(tk[(g-1)*4+1:g*4], ' ')
                FOR g IN generate_series(1, CAST(ceil(len(tk)/4.0) AS INT))]
                 AS segs
        FROM toks),
      ex AS (SELECT doc_id, unnest(segs) AS seg FROM segd)
      SELECT seg, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM ex GROUP BY seg HAVING count(DISTINCT doc_id) >= 3
      ORDER BY df DESC, seg LIMIT 40
    """))

  /** Incremental boilerplate scrub ([[graft.ops.LineDedup
    * .incrementalScrub]]): two history batches land their
    * profile-sized (seg, n_docs) partitions in a per-run store; the
    * new batch is scrubbed against stored + own document frequency
    * without re-segmenting history text. The oracle recomputes corpus
    * DF from ALL raw docs and scrubs the batch — equal because doc
    * sets are disjoint across batches, so per-batch distinct counts
    * sum to corpus DF. bench=false: correctness surface (store
    * bootstrap dominates the timing). */
  val incrementalLineDedup = GQuery(
    "q_incremental_line_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dir = graft.TempRoots
        .create("graft_segdf") + "/segdf"
      graft.ops.LineDedup.updateSegmentStore(
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", 4, dir, 0L)
      graft.ops.LineDedup.updateSegmentStore(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", 4, dir, 1L)
      graft.ops.LineDedup.incrementalScrub(
          graft.ops.LineDedup.readSegmentStore(s, dir),
          docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", w = 4, minDocs = 3)
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      segd AS (
        SELECT doc_id,
               [array_to_string(tk[(g-1)*4+1:g*4], ' ')
                FOR g IN generate_series(1, CAST(ceil(len(tk)/4.0) AS INT))]
                 AS segs
        FROM toks),
      ex AS (
        SELECT doc_id, unnest(segs) AS seg,
               unnest(generate_series(1, len(segs))) AS ord
        FROM segd),
      freq AS (
        SELECT seg FROM ex GROUP BY seg
        HAVING count(DISTINCT doc_id) >= 3)
      SELECT e.doc_id,
             CAST(count(*) AS BIGINT) AS n_segs,
             CAST(count(*) FILTER (WHERE f.seg IS NULL) AS BIGINT)
               AS kept_segs,
             md5(coalesce(string_agg(
               CASE WHEN f.seg IS NULL THEN e.seg END, ' '
               ORDER BY e.ord), '')) AS new_md5
      FROM ex e LEFT JOIN freq f ON e.seg = f.seg
      WHERE e.doc_id % 3 = 0
      GROUP BY e.doc_id ORDER BY e.doc_id
    """),
    bench = false, eager = true)

  /** Bigram-conditional surprisal ([[TextOps.bigramSurprisal]]): the
    * local-predictability quality signal — a shuffled-word salad keeps
    * its unigram surprisal but spikes here. Counts and margins
    * re-aggregated from one (doc, bigram) pass. */
  val bigramSurprisal = GQuery(
    "q_bigram_surprisal",
    // measured r15: spreading was flat (1.34→1.33 s) — the explode
    // feeds a shuffle-bound aggregate; left unspread
    (s, d) => TextOps.bigramSurprisal(
      Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some(TextOps.bigramSurprisalSql))

  /** One DuckDB CTE round of the BPE loop: count pairs over the
    * space-joined symbol strings, pick the argmax with the total
    * tie-break, apply the merge with the same left-to-right fold the
    * engine runs (list_reduce mirroring Spark's aggregate). */
  private def bpeRoundSql(i: Int): String = s"""
    p$i AS (
      SELECT l, r, SUM(freq) AS c FROM (
        SELECT freq, sy[i] AS l, sy[i+1] AS r FROM (
          SELECT freq, sy, unnest(generate_series(1, len(sy)-1)) AS i
          FROM (SELECT freq, string_split(s,' ') AS sy FROM s${i - 1}) t
        ) z) zz GROUP BY l, r),
    b$i AS (SELECT l, r, CAST(c AS BIGINT) AS c FROM p$i
            ORDER BY c DESC, l, r LIMIT 1),
    s$i AS (
      SELECT word, freq,
        CASE WHEN b.l IS NULL THEN s ELSE
          list_reduce(string_split(s,' '), (acc,x) ->
            CASE WHEN x = b.r AND (acc = b.l OR ends_with(acc, ' ' || b.l))
                 THEN acc || x ELSE acc || ' ' || x END) END AS s
      FROM s${i - 1} LEFT JOIN b$i b ON TRUE)"""

  /** BPE merge induction ([[graft.ops.Vocab.bpeMerges]], 3 rounds):
    * the engine's corpus-collapse + per-round argmax + fold replayed
    * by the oracle as chained CTE rounds — pair counts, the
    * deterministic tie-break, AND the left-to-right merge fold all
    * gate together (round 2+ counts are only right if round 1's
    * merge was applied exactly). */
  val bpeMerges = GQuery(
    "q_bpe_merges",
    (s, d) => graft.ops.Vocab.bpeMerges(
      Tables.documents(s, d), "text", rounds = 3),
    Some(s"""
      WITH words AS (
        SELECT w AS word, count(*) AS freq
        FROM (SELECT unnest(string_split(text,' ')) AS w
              FROM documents) t
        WHERE w <> '' GROUP BY w),
      s0 AS (SELECT word, freq,
             array_to_string(string_split(word,''),' ') AS s
             FROM words),
      ${Seq(1, 2, 3).map(bpeRoundSql).mkString(",")}
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS rank, l AS left_sym,
               r AS right_sym, c AS freq FROM b1
        UNION ALL SELECT 2, l, r, c FROM b2
        UNION ALL SELECT 3, l, r, c FROM b3) ORDER BY rank
    """),
    eager = true) // per-round argmax collects run at construction

  /** Corpus encoding with the saved BPE model
    * ([[graft.ops.Vocab.bpeSaveModel]] → [[graft.ops.Vocab
    * .bpeEncode]]): the vocabulary-sized encoding map joins to the
    * exploded corpus and pieces reassemble in ordinal order — the
    * corpus is never re-folded. The oracle replays the 3 training
    * rounds AND the encode join + reassembly, so the persisted
    * artifact, the join, the open-vocabulary fallback path, and the
    * piece-stream digests all gate together. */
  val bpeEncodeQ = GQuery(
    "q_bpe_encode",
    (s, d) => {
      val dir = graft.TempRoots
        .create("graft_bpe") + "/model"
      val docs = Tables.documents(s, d)
      graft.ops.Vocab.bpeSaveModel(docs, "text", rounds = 3, dir)
      graft.ops.Vocab.bpeEncode(docs, "doc_id", "text", dir)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH words AS (
        SELECT w AS word, count(*) AS freq
        FROM (SELECT unnest(string_split(text,' ')) AS w
              FROM documents) t
        WHERE w <> '' GROUP BY w),
      s0 AS (SELECT word, freq,
             array_to_string(string_split(word,''),' ') AS s
             FROM words),
      ${Seq(1, 2, 3).map(bpeRoundSql).mkString(",")},
      tok AS (
        SELECT doc_id, ord, word FROM (
          SELECT doc_id,
                 unnest(string_split(text,' ')) AS word,
                 unnest(generate_series(1, len(string_split(text,' '))))
                   AS ord
          FROM documents) t WHERE word <> ''),
      j AS (
        SELECT t.doc_id, t.ord,
               coalesce(e.s,
                 array_to_string(string_split(t.word,''),' ')) AS s
        FROM tok t LEFT JOIN s3 e ON t.word = e.word),
      sig AS (
        SELECT doc_id, ord,
               len(string_split(s,' ')) AS np,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(s,''),
                     c -> CAST(ascii(c) AS BIGINT))),
                 (acc, x) -> (acc * 31 + x) % 1000000007) AS poly
        FROM j)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_pieces,
             CAST(sum((poly * ord) % 1000000007) AS BIGINT) AS enc_sig,
             CAST(sum(poly) AS BIGINT) AS enc_sum
      FROM sig GROUP BY doc_id ORDER BY doc_id
    """),
    eager = true) // model training + save run at construction

  def all: Seq[GQuery] =
    Seq(tokenStats, qualityScore, langId, fingerprint, tfidfTopTerms,
      piiRedact, tokenPacking, chunkWindows, vocabOov, contamination,
      repetitionStats, boilerplateScore, distinctNgrams,
      paddingEfficiency, unigramSurprisal, bigramSurprisal, lineDedup,
      segmentDfTop, incrementalLineDedup, bpeMerges, bpeEncodeQ)
}
