package graft.llm

import graft.{Exact, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2 B.10 — text-analysis operators for training-data pipelines:
  * corpus stats, term frequency, exact TF-IDF, n-grams, quality scoring,
  * and order-sensitive document fingerprints.
  *
  * Scale design: every query is tokenize → explode → hash-aggregate, i.e.
  * one shuffle keyed on `(doc_id, term)` or `term` with map-side combine;
  * per-language top-k uses a window over the (small) aggregated term table,
  * not the raw token stream. Nothing here holds a document set in memory —
  * the same plans run over a 100 TB corpus partitioned by doc_id.
  */
object TextOps {

  /** English-ish stopword list used by the quality heuristic. Fixed and
    * duplicated verbatim into the oracle SQL, so both engines agree.
    */
  private val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")
  private val StopwordsSql = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "text_lang_stats",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            Exact.roundN(sum(col("n_chars")).cast("double") / count(lit(1)), 2).as("avg_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
              |  ${Exact.roundNSql("CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)", 2)} AS avg_chars,
              |  COUNT(DISTINCT source) AS n_sources
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Per-language top-10 terms. The aggregated (lang, term) table is NOT
    // tiny at scale — the vocabulary grows with the corpus (round-16
    // scaling harness) — so the top-k must never funnel it into
    // ≤#languages sort tasks. Round 22 (VERDICT r21 #7): the two-phase
    // prof_pid-salted window pair (phase 1 per (lang, input-partition),
    // phase 2 over the ≤10·partitions survivors) becomes ONE bounded
    // string-keyed TopKTerms aggregate — the per-partition-top-K-is-a-
    // superset argument made intrinsic: the vocabulary reduces map-side
    // into ≤#languages×10 slots, no sort, no salt column, and one fewer
    // Exchange (the phase-1 window needed a (lang, prof_pid) exchange on
    // top of the count's (lang, term) one). Ordering contract identical:
    // (cnt DESC, term ASC) is total within a language (term unique after
    // the groupBy) and the aggregator compares terms by CODE POINT =
    // Spark's UTF8String sort order (ProfileTopKParitySpec fuzzes the
    // comparator on astral-plane terms and pins this body against the
    // r21 window form); rank = slot position. Plan pinned in PlanSpec
    // ("profile top-k queries reduce map-side").
    QueryDef(
      "text_term_freq",
      (s, d) => {
        val topk = graft.functions.TopKTerms.top10
        Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("lang"))
          .agg(topk(col("cnt"), col("term")).as("tk"))
          .select(col("lang"), posexplode(col("tk.items")).as(Seq("pos", "it")))
          .select(col("lang"), col("it.t").as("term"), col("it.c").as("cnt"),
            (col("pos") + 1).cast("long").as("rn"))
          .orderBy("lang", "rn")
      },
      Some("""SELECT lang, term, cnt, rn FROM (
             |  SELECT lang, term, cnt,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rn
             |  FROM (
             |    SELECT lang, term, COUNT(*) AS cnt FROM (
             |      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents) x
             |    GROUP BY 1, 2) tf) t
             |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin)),

    // Exact TF-IDF (not HashingTF — un-oracle-able): tf(term,doc) *
    // ln(N/df(term)), ranked on the ROUNDED score (D5) with term tie-break.
    QueryDef(
      "text_tfidf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val df = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
        tf.join(broadcast(df), "term")
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            Exact.roundN(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
          .filter(col("doc_id") < 50)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("doc_id", "term", "tfidf", "rn")
          .orderBy("doc_id", "rn")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
              |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents),
              |scored AS (
              |  SELECT tf.doc_id, tf.term,
              |    ${Exact.roundNSql("tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df)", 4)} AS tfidf
              |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
              |  WHERE tf.doc_id < 50)
              |SELECT doc_id, term, tfidf, rn FROM (
              |  SELECT doc_id, term, tfidf,
              |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
              |  FROM scored) t
              |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    // Bigram counts, top-20. Spark side builds bigrams with zip_with over
    // two slices — no join, no Generator beyond the final explode, fully
    // codegen. Oracle zips token lists via DuckDB's parallel-unnest.
    QueryDef(
      "text_ngram",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("bigram", explode(
            zip_with(
              slice(col("toks"), lit(1), size(col("toks")) - 1),
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              (a, b) => concat(a, lit(" "), b))))
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("bigram"))
          .limit(20),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |p AS (SELECT doc_id, unnest(toks) AS tok,
             |        unnest(range(1, len(toks) + 1)) AS pos FROM t)
             |SELECT a.tok || ' ' || b.tok AS bigram, COUNT(*) AS cnt
             |FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin)),

    // Quality scoring: token count, average token length, stopword ratio —
    // the standard pre-training corpus filters, all exact-arithmetic.
    QueryDef(
      "text_quality",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        toks.groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_toks"),
            Exact.roundN(sum(length(col("tok"))).cast("double") / count(lit(1)), 4)
              .as("avg_tok_len"),
            Exact.roundN(
              sum(when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L)).cast("double") /
                count(lit(1)), 4).as("stopword_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, COUNT(*) AS n_toks,
              |  ${Exact.roundNSql("CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*)", 4)} AS avg_tok_len,
              |  ${Exact.roundNSql(s"CAST(SUM(CASE WHEN tok IN $StopwordsSql THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 4)} AS stopword_ratio
              |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Order-sensitive document fingerprint: Σ tokHash(tok) * pos mod 2^31.
    // Position-weighting makes permutations collide differently while the
    // arithmetic stays pure-integer (D7) and portable to the oracle.
    QueryDef(
      "text_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
          // The widened portable token hash, delegated to Dedup's single
          // source of truth (ADVICE r18 #1 widening; ADVICE r19 #2
          // de-duplication — an inline copy could drift constant-by-
          // constant without tripping the un-cast lint).
          .withColumn("h", Dedup.tokHash(col("tok")))
          .groupBy(col("doc_id"))
          .agg((sum(col("h") * (col("pos") + 1)) % 2147483648L).as("fingerprint"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              |p AS (SELECT doc_id, unnest(toks) AS tok,
              |        unnest(range(1, len(toks) + 1)) AS pos FROM t),
              |h AS (SELECT doc_id, pos, ${Dedup.tokHashSql("tok")} AS h
              |      FROM p)
              |SELECT doc_id, CAST(SUM(h * pos) % 2147483648 AS BIGINT) AS fingerprint
              |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Token counting two ways (the pre-training budget accounting op):
    // whitespace tokens and BPE-ish regex tokens (runs of letters/digits).
    // The regex keeps to char-classes + alternation so Java regex and RE2
    // agree (SURVEY B.8 fn_string note).
    QueryDef(
      "text_token_count",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ws_tokens"),
            size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
              .cast("long").as("re_tokens"),
            length(col("text")).cast("long").as("text_chars"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS ws_tokens,
             |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
             |  length(text) AS text_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Profile-based language ID (Cavnar–Trenkle-lite): build a top-20 term
    // profile per language from the corpus itself, then guess each doc's
    // language as the profile with the largest distinct-term overlap
    // (ties → lexicographically smaller lang). The profiles are tiny and
    // broadcast; the per-doc work is one explode + one aggregated join —
    // the same shape a char-n-gram profile would use at 100 TB.
    QueryDef(
      "text_langid",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val terms = docs.select(col("doc_id"), col("lang"),
          explode(array_distinct(split(col("text"), " "))).as("term"))
        // Bounded string-keyed top-20 profile (round 22, VERDICT r21 #7;
        // see text_term_freq): the vocabulary reduces map-side into
        // ≤#languages×20 slots — no prof_pid salt, no sort, one fewer
        // Exchange than the r16 two-phase window pair. Same total order
        // (cnt DESC, term ASC by code point); parity pinned by
        // ProfileTopKParitySpec against the r21 window form.
        val top20 = graft.functions.TopKTerms.top20
        val profile = terms.groupBy(col("lang").as("plang"), col("term"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("plang"))
          .agg(top20(col("cnt"), col("term")).as("tk"))
          .select(col("plang"), explode(col("tk.items")).as("it"))
          .select(col("plang"), col("it.t").as("term"))
        // prune to the queried docs BEFORE the join (commutes with the
        // per-doc window); the profile still sees the whole corpus
        val wGuess = Window.partitionBy(col("doc_id")).orderBy(col("overlap").desc, col("plang"))
        terms.filter(col("doc_id") < 100)
          .join(broadcast(profile), "term")
          .groupBy(col("doc_id"), col("plang"))
          .agg(count(lit(1)).as("overlap"))
          .withColumn("grn", row_number().over(wGuess))
          .filter(col("grn") === 1)
          .select(col("doc_id"), col("plang").as("guess_lang"), col("overlap"))
          .orderBy("doc_id")
      },
      Some("""WITH terms AS (
             |  SELECT doc_id, lang, term FROM (
             |    SELECT doc_id, lang,
             |      unnest(list_distinct(string_split(text, ' '))) AS term
             |    FROM documents) x),
             |profile AS (
             |  SELECT plang, term FROM (
             |    SELECT lang AS plang, term, COUNT(*) AS cnt,
             |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, term) AS prn
             |    FROM terms GROUP BY lang, term) p
             |  WHERE prn <= 20),
             |ovl AS (
             |  SELECT t.doc_id, p.plang, COUNT(*) AS overlap
             |  FROM terms t JOIN profile p ON t.term = p.term
             |  GROUP BY t.doc_id, p.plang)
             |SELECT doc_id, plang AS guess_lang, overlap FROM (
             |  SELECT doc_id, plang, overlap,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY overlap DESC, plang) AS grn
             |  FROM ovl) g
             |WHERE grn = 1 AND doc_id < 100 ORDER BY doc_id""".stripMargin)),

    // Sliding-window chunking (context-window packing): each document split
    // into overlapping 8-token chunks with stride 4 — the standard way long
    // documents become training samples. Pure per-row lambda work (no
    // shuffle at all until the driver's ORDER BY): scales embarrassingly.
    QueryDef(
      "text_chunk_sliding",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(1, greatest(size(toks), 1), 4), st -> array_join(slice(toks, st, 8), ' '))"))
              .as(Seq("chunk_idx", "chunk_text")))
          .select(
            col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            col("chunk_text"),
            size(split(col("chunk_text"), " ")).cast("long").as("n_chunk_toks"))
          .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (SELECT doc_id,
             |        list_transform(range(1, greatest(len(toks), 1) + 1, 4),
             |          st -> array_to_string(toks[st:st+7], ' ')) AS chunks
             |      FROM t),
             |u AS (SELECT doc_id,
             |        unnest(range(0, len(chunks))) AS chunk_idx,
             |        unnest(chunks) AS chunk_text
             |      FROM c)
             |SELECT doc_id, chunk_idx, chunk_text,
             |  len(string_split(chunk_text, ' ')) AS n_chunk_toks
             |FROM u ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Unigram log-probability scoring — the perplexity-proxy quality
    // filter: score(doc) = Σ ln(tf(term)/total) over its tokens, higher =
    // more "typical" text. Each token's logprob is rounded to 8dp BEFORE
    // the per-doc sum (which runs in exact decimal), so the result is
    // independent of summation order on both engines (D5 discipline
    // applied to irrational logs). Corpus LM = one aggregated table,
    // broadcast; scoring is a map-side join.
    QueryDef(
      "text_logprob_score",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        // Corpus size from the term frequencies, not a third scan: the
        // token total is Σ cnt over the (already tiny, already broadcast)
        // tf table — the round-11 ScanAudit showed the direct count
        // re-scanning and re-tokenizing documents a third time.
        val total = tf.agg(sum(col("cnt")).as("total"))
        val lp = Exact.roundN(log(col("cnt").cast("double") / col("total")), 8)
        toks.join(broadcast(tf), "term")
          .crossJoin(broadcast(total))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_toks"),
            Exact.roundN(sum(lp.cast("decimal(28,10)")).cast("double"), 4).as("logprob"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              |tf AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
              |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tf)
              |SELECT doc_id, COUNT(*) AS n_toks,
              |  ${Exact.roundNSql(
                 s"CAST(SUM(CAST(${Exact.roundNSql("LN(CAST(cnt AS DOUBLE) / total)", 8)} AS DECIMAL(28,10))) AS DOUBLE)",
                 4)} AS logprob
              |FROM toks JOIN tf USING (term) CROSS JOIN tot
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Language-distribution entropy per source — the corpus-diversity
    // metric curation pipelines monitor (a source collapsing to one
    // language is a red flag). Same determinism discipline as
    // text_logprob_score: each −p·ln(p) term is rounded to 8dp, the
    // per-source sum runs in exact decimal.
    QueryDef(
      "text_source_entropy",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
        val totals = counts.groupBy(col("source")).agg(sum(col("cnt")).as("total"))
        val p = col("cnt").cast("double") / col("total")
        val term = Exact.roundN(-p * log(p), 8)
        counts.join(totals, "source")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_langs"),
            Exact.roundN(sum(term.cast("decimal(18,10)")).cast("double"), 4).as("entropy"))
          .orderBy("source")
      },
      Some(s"""WITH counts AS (
              |  SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY 1, 2),
              |totals AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS total
              |           FROM counts GROUP BY 1)
              |SELECT source, COUNT(*) AS n_langs,
              |  ${Exact.roundNSql(
                 s"CAST(SUM(CAST(${Exact.roundNSql(
                    "-(CAST(cnt AS DOUBLE) / total) * LN(CAST(cnt AS DOUBLE) / total)", 8)} AS DECIMAL(18,10))) AS DOUBLE)",
                 4)} AS entropy
              |FROM counts JOIN totals USING (source)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // Sequence packing (context-window bin assignment): docs are packed
    // into ~512-token bins per language via a running token total —
    // bin = floor((cumsum − n_toks) / 512), the deterministic, fully
    // parallel approximation of greedy packing (exact greedy is inherently
    // sequential; this is the shape used at scale). Partitioned by lang so
    // window state stays bounded per key.
    // SCALE REWRITE (round 17, closed-key sweep second wave): the running
    // token total partitioned on the closed ~10-value lang key pushed the
    // whole corpus through ≤#langs sort tasks. Two-phase prefix sum over
    // TwoPhase doc_id-range buckets: the bucket bounds come from a 2-column
    // (lang, doc_id) stats pass — a DIFFERENT pruned signature from the
    // text-bearing main pass, so the heavy column is still read... twice,
    // not three times: per-(lang, bucket) token totals need n_toks and
    // share the main pass's signature (the ScanBudgetSpec exception —
    // fences-before-classification is load-bearingly sequential, and the
    // scan-once alternative IS the measured closed-key funnel). cum =
    // bucket-local running sum + exclusive bucket offset, windows bounded
    // by bucket population / ≤langs×66 aggregate rows.
    QueryDef(
      "text_pack_bins",
      (s, d) => {
        def docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_toks"))
        val stats = Tables.documents(s, d).select(col("lang"), col("doc_id"))
          .groupBy(col("lang").as("sg"))
          .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        def bucketize(df: org.apache.spark.sql.DataFrame) =
          df.join(broadcast(stats), col("lang") <=> col("sg"))
            .withColumn("bkt",
              graft.operators.TwoPhase.bucket(col("doc_id"), col("lo"), col("hi")))
        val wOff = Window.partitionBy(col("og")).orderBy(col("obkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = bucketize(docs)
          .groupBy(col("lang").as("og"), col("bkt").as("obkt"))
          .agg(sum(col("n_toks")).as("tsum"))
          .withColumn("off", coalesce(sum(col("tsum")).over(wOff), lit(0L)))
          .select(col("og"), col("obkt"), col("off"))
        val wIn = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bucketize(docs)
          .withColumn("lcum", sum(col("n_toks")).over(wIn))
          .join(broadcast(offs),
            col("lang") <=> col("og") && col("bkt") === col("obkt"))
          .select(col("doc_id"), col("lang"), col("n_toks"),
            floor((col("off") + col("lcum") - col("n_toks")) / 512d)
              .cast("long").as("bin"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_toks,
             |  CAST(FLOOR((cum - n_toks) / 512) AS BIGINT) AS bin
             |FROM (
             |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks,
             |    CAST(SUM(len(string_split(text, ' '))) OVER (
             |      PARTITION BY lang ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |  FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // Stopword removal producing cleaned text — the filter that actually
    // rewrites the corpus (vs text_quality which only scores it). Flat
    // string output so the driver's gate can hash it.
    QueryDef(
      "text_remove_stopwords",
      (s, d) => {
        val sw = Stopwords
        Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("kept", filter(col("toks"), t => !t.isInCollection(sw)))
          .select(
            col("doc_id"),
            array_join(col("kept"), " ").as("cleaned"),
            (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  array_to_string(list_filter(string_split(text, ' '),
              |    t -> t NOT IN $StopwordsSql), ' ') AS cleaned,
              |  len(string_split(text, ' '))
              |    - len(list_filter(string_split(text, ' '), t -> t NOT IN $StopwordsSql)) AS n_removed
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Char-n-gram language ID (the classic Cavnar–Trenkle profile, trigram
    // flavor): build a per-language top-30 character-trigram profile from
    // the corpus, guess each doc as the profile with the largest distinct-
    // trigram overlap (ties → smaller lang). Trigrams come from a
    // transform-over-positions lambda — no UDF, no join, stays in codegen;
    // the profile table is tiny and broadcast, so at 100 TB the per-doc
    // work is one explode + one aggregated broadcast join.
    QueryDef(
      "text_langid_chargram",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // Round 21, guide §1.2 step 2 (per-task work): the old
        // transform-over-positions form called substring(text, i, 3) per
        // position, and UTF8String.substring walks bytes from the start
        // to find the codepoint offset — O(len) per call, O(len²) per
        // document. Splitting once into a codepoint array and zipping
        // three slices is O(len): measured 4.3-6.0 s → 1.9-2.3 s for the
        // corpus-wide gram aggregation at sf0.1 (OPTIMIZATION_r21.md §6),
        // gram-for-gram identical including non-BMP emoji (split("") keeps
        // surrogate pairs whole — probed on the unicode degenerate texts; a
        // per-element split form was also tried and is the known
        // ProjectCollapse trap: ~70 s, re-split per element). Texts
        // shorter than 3 codepoints keep the substring semantics (the
        // whole text is the one "gram") via the length<3 branch —
        // zip_with over short slices would null-pad instead.
        val ch = split(col("text"), "")
        val triExpr =
          """CASE WHEN length(text) < 3 THEN array(text) ELSE
            |  zip_with(
            |    slice(ch, 1, size(ch) - 2),
            |    zip_with(slice(ch, 2, size(ch) - 2), slice(ch, 3, size(ch) - 2),
            |             (b, c) -> concat(b, c)),
            |    (a, bc) -> concat(a, bc)) END""".stripMargin
        val grams = docs
          .select(col("doc_id"), col("lang"), col("text"), ch.as("ch"))
          .select(col("doc_id"), col("lang"),
            explode(array_distinct(expr(triExpr))).as("gram"))
        // Bounded string-keyed top-30 profile (round 22, VERDICT r21 #7).
        // The round-16 scaling harness measured THIS stage as the one
        // super-linear step in the LLM set (×8→×64 corpus: 35.7× wall
        // for 8× data): a one-phase window funneled all corpus-wide
        // (lang, gram) counts into ≤#languages sort tasks; r16's fix was
        // the two-phase prof_pid-salted window pair. The TopKTerms
        // aggregate makes the per-partition-superset argument intrinsic:
        // (lang, gram) counts reduce map-side into ≤#languages×30 slots,
        // no sort, no salt, one fewer Exchange. Same total order
        // (cnt DESC, gram ASC by code point); parity pinned by
        // ProfileTopKParitySpec against the r21 window form.
        val top30 = graft.functions.TopKTerms.top30
        val profile = grams.groupBy(col("lang").as("plang"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("plang"))
          .agg(top30(col("cnt"), col("gram")).as("tk"))
          .select(col("plang"), explode(col("tk.items")).as("it"))
          .select(col("plang"), col("it.t").as("gram"))
        // doc_id < 100 commutes with the per-doc window/groupBy (doc_id is
        // the partition key), so the guess side prunes BEFORE the join —
        // the profile still aggregates the whole corpus, but the overlap
        // join touches only the queried docs' grams.
        val wGuess = Window.partitionBy(col("doc_id")).orderBy(col("overlap").desc, col("plang"))
        grams.filter(col("doc_id") < 100)
          .join(broadcast(profile), "gram")
          .groupBy(col("doc_id"), col("plang"))
          .agg(count(lit(1)).as("overlap"))
          .withColumn("grn", row_number().over(wGuess))
          .filter(col("grn") === 1)
          .select(col("doc_id"), col("plang").as("guess_lang"), col("overlap"))
          .orderBy("doc_id")
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, lang, gram FROM (
             |    SELECT doc_id, lang,
             |      unnest(list_distinct(list_transform(
             |        range(1, greatest(length(text) - 2, 1) + 1),
             |        i -> substring(text, i, 3)))) AS gram
             |    FROM documents) x),
             |profile AS (
             |  SELECT plang, gram FROM (
             |    SELECT lang AS plang, gram, COUNT(*) AS cnt,
             |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, gram) AS prn
             |    FROM grams GROUP BY lang, gram) p
             |  WHERE prn <= 30),
             |ovl AS (
             |  SELECT g.doc_id, p.plang, COUNT(*) AS overlap
             |  FROM grams g JOIN profile p ON g.gram = p.gram
             |  WHERE g.doc_id < 100
             |  GROUP BY g.doc_id, p.plang)
             |SELECT doc_id, plang AS guess_lang, overlap FROM (
             |  SELECT doc_id, plang, overlap,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY overlap DESC, plang) AS grn
             |  FROM ovl) g
             |WHERE grn = 1 ORDER BY doc_id""".stripMargin)),

    // Composite corpus-cleaning pipeline — the operators above composed the
    // way a pre-training data pipeline actually runs them: quality-filter
    // (token count + stopword ratio) → exact-dedup (min doc_id per text) →
    // per-language survivor stats. One declared query proves the operators
    // compose under Catalyst into a single plan.
    QueryDef(
      "text_clean_pipeline",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text"),
            explode(split(col("text"), " ")).as("tok"))
        val quality = toks.groupBy(col("doc_id"), col("lang"), col("text"))
          .agg(
            count(lit(1)).as("n_toks"),
            sum(when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L)).as("n_stop"))
          .filter(col("n_toks") >= 10 &&
            col("n_stop") * 100 < col("n_toks") * 30) // stopword ratio < 0.3, int arithmetic (D7)
        // min(lang), not first(lang): identical texts can carry different
        // langs and first() is partition-order-dependent (D3)
        val deduped = quality.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
            min(col("n_toks")).as("n_toks"))
        deduped.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_survivors"),
            sum(col("n_toks")).as("total_tokens"))
          .orderBy("lang")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, text, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |quality AS (
             |  SELECT doc_id, lang, text, COUNT(*) AS n_toks,
             |    SUM(CASE WHEN tok IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'on')
             |        THEN 1 ELSE 0 END) AS n_stop
             |  FROM toks GROUP BY doc_id, lang, text
             |  HAVING COUNT(*) >= 10
             |     AND SUM(CASE WHEN tok IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'on')
             |         THEN 1 ELSE 0 END) * 100 < COUNT(*) * 30),
             |deduped AS (
             |  SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang, MIN(n_toks) AS n_toks
             |  FROM quality GROUP BY text)
             |SELECT lang, COUNT(*) AS n_survivors, CAST(SUM(n_toks) AS BIGINT) AS total_tokens
             |FROM deduped GROUP BY lang ORDER BY lang""".stripMargin)),

    // Gopher-style repetition quality rule: duplicate word-trigram fraction
    // per doc (1 − distinct/total) — the repetition filter that catches
    // boilerplate/spam which length and stopword ratios miss. Pure per-row
    // lambda arithmetic, no shuffle beyond the final sort.
    QueryDef(
      "text_repetition_score",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          // try_element_at: a 1- or 2-token doc indexes past the array end
          // on the padded last positions — plain element_at is an ANSI
          // INVALID_ARRAY_INDEX job-killer there; try_ yields NULL, which
          // concat_ws skips on BOTH engines (round-8 sweep, pinned in
          // DegenerateGroupSpec)
          .withColumn("grams", expr(
            """transform(sequence(1, greatest(size(toks) - 2, 1)),
              |  i -> concat_ws(' ', try_element_at(toks, i), try_element_at(toks, i + 1),
              |                 try_element_at(toks, i + 2)))""".stripMargin))
          .select(col("doc_id"),
            size(array_distinct(col("grams"))).cast("long").as("n_distinct"),
            size(col("grams")).cast("long").as("n_total"),
            Exact.roundN(lit(1.0d) -
              size(array_distinct(col("grams"))).cast("double") /
                size(col("grams")).cast("double"), 4).as("rep_score"))
          .orderBy("doc_id"),
      // oracle uses concat_ws (NULL-skipping in DuckDB too), not ||: on
      // 1-2 token docs the padded last positions index past the list end
      // and || would NULL the whole gram while Spark's concat_ws keeps
      // the short one
      Some(s"""SELECT doc_id,
              |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
              |  CAST(len(grams) AS BIGINT) AS n_total,
              |  ${Exact.roundNSql(
                 "1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)", 4)} AS rep_score
              |FROM (
              |  SELECT doc_id, list_transform(
              |    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
              |    i -> concat_ws(' ', string_split(text, ' ')[i],
              |                   string_split(text, ' ')[i + 1],
              |                   string_split(text, ' ')[i + 2])) AS grams
              |  FROM documents) t
              |ORDER BY doc_id""".stripMargin)),

    // Document-length histogram (100-char integer bins): the
    // length-distribution snapshot a curation pipeline uses to pick
    // truncation/filter thresholds. FLOOR binning on both sides — the
    // round-8 comment claimed DuckDB's integer `//` floors, but it
    // TRUNCATES toward zero (-5 // 100 = 0, not -1); the round-9
    // degenerate parity sweep caught the divergence on a negative
    // n_chars, so the oracle now floors over an exact double division
    // (n_chars ≪ 2^53, so the division is exact).
    QueryDef(
      "text_length_histogram",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(floor(col("n_chars") / 100d).cast("long").as("bin_100c"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
          .orderBy("bin_100c"),
      Some("""SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bin_100c, COUNT(*) AS n_docs,
             |  MIN(n_chars) AS mn, MAX(n_chars) AS mx
             |FROM documents GROUP BY 1 ORDER BY bin_100c""".stripMargin)),

    // Corpus-drift monitor: Jensen-Shannon divergence of each source's
    // token distribution vs the whole corpus — the "did this source's
    // content shift" alarm a training-data pipeline runs per ingest batch.
    // Computed over the source's OBSERVED vocabulary (inner join; absent
    // terms would add q·ln2 — on this fixture every source sees the full
    // 31-token vocabulary, so the restriction is vacuous and declared).
    // Per-term contributions are rounded to 8dp then summed in decimal, so
    // the irrational log sums stay order-independent (same discipline as
    // text_logprob_score / text_source_entropy).
    QueryDef(
      "text_source_divergence",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        val sc = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        val st = sc.groupBy(col("source")).agg(sum(col("c")).cast("long").as("t"))
        val cc = sc.groupBy(col("tok")).agg(sum(col("c")).cast("long").as("c_all"))
        val ct = cc.agg(sum(col("c_all")).cast("long").as("t_all"))
        val terms = sc.join(st, "source").join(broadcast(cc), "tok").crossJoin(broadcast(ct))
          .withColumn("p", col("c").cast("double") / col("t"))
          .withColumn("q", col("c_all").cast("double") / col("t_all"))
        terms
          .withColumn("contrib", Exact.roundN(
            col("p") * log(lit(2.0d) * col("p") / (col("p") + col("q"))) +
              col("q") * log(lit(2.0d) * col("q") / (col("p") + col("q"))), 8))
          .groupBy(col("source"))
          .agg(Exact.roundN(lit(0.5d) *
            sum(col("contrib").cast("decimal(28,10)")).cast("double"), 6).as("js_div"))
          .orderBy("source")
      },
      Some(s"""WITH toks AS (
              |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
              |sc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
              |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM sc GROUP BY 1),
              |cc AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS c_all FROM sc GROUP BY 1),
              |ct AS (SELECT CAST(SUM(c_all) AS BIGINT) AS t_all FROM cc),
              |terms AS (
              |  SELECT sc.source,
              |    CAST(sc.c AS DOUBLE) / st.t AS p,
              |    CAST(cc.c_all AS DOUBLE) / ct.t_all AS q
              |  FROM sc JOIN st USING (source) JOIN cc USING (tok) CROSS JOIN ct)
              |SELECT source,
              |  ${Exact.roundNSql(
                 "0.5 * CAST(SUM(CAST(" +
                   Exact.roundNSql(
                     "p * LN(2.0 * p / (p + q)) + q * LN(2.0 * q / (p + q))", 8) +
                   " AS DECIMAL(28,10))) AS DOUBLE)", 6)} AS js_div
              |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // Vocabulary-growth (Heaps-law) curve per language: distinct tokens
    // seen among the first k docs (doc_id order) at doubling checkpoints —
    // the corpus-saturation diagnostic for "is more data adding new
    // vocabulary?". Reduced to token grain first (first-occurrence doc per
    // (lang, token) is a min-agg), then a tiny checkpoint×token count; the
    // raw token stream is never joined.
    QueryDef(
      "text_vocab_growth",
      (s, d) => {
        import s.implicits._
        val ft = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("lang"), col("tok"))
          .agg(min(col("doc_id")).as("first_doc"))
        ft.crossJoin(broadcast(Seq(1L, 2L, 4L, 8L, 16L, 32L).toDF("checkpoint")))
          .groupBy(col("lang"), col("checkpoint"))
          .agg(count(when(col("first_doc") < col("checkpoint"), 1)).as("vocab"))
          .orderBy("lang", "checkpoint")
      },
      Some("""WITH ft AS (
             |  SELECT lang, tok, MIN(doc_id) AS first_doc
             |  FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
             |        FROM documents) t
             |  GROUP BY lang, tok),
             |cp AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS checkpoint)
             |SELECT lang, CAST(checkpoint AS BIGINT) AS checkpoint,
             |  CAST(COUNT(CASE WHEN first_doc < checkpoint THEN 1 END) AS BIGINT) AS vocab
             |FROM ft CROSS JOIN cp
             |GROUP BY lang, checkpoint ORDER BY lang, checkpoint""".stripMargin)),

    // PII redaction: email + phone patterns replaced before a document can
    // enter a training mix. The fixture text has no PII, so a deterministic
    // email/phone payload is synthesized per doc and the redaction regexes
    // (kept to the Java∩RE2 common subset — char classes, bounded repeats)
    // are the operators under test. Pure per-row map: no shuffle, fully
    // codegen'd, scales linearly.
    QueryDef(
      "text_pii_redact",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("payload", concat(
            lit("contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" re: "), substring(col("text"), 1, 40)))
          .select(col("doc_id"),
            regexp_replace(
              regexp_replace(col("payload"), "[a-z0-9._]+@[a-z0-9.]+[a-z]", "<EMAIL>"),
              "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>").as("redacted"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(
             |      'contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-'
             |        || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
             |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |        || ' re: ' || substr(text, 1, 40),
             |      '[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
             |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Nested struct column built, filtered on nested fields, flat output.
    QueryDef(
      "multimodal_struct",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("meta", struct(col("lang"), col("source"), col("n_chars")))
          .filter(col("meta.lang") === "en" && col("meta.n_chars") > 200)
          .select(
            col("doc_id"),
            col("meta.lang").as("lang"),
            col("meta.source").as("source"),
            col("meta.n_chars").as("n_chars"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |WHERE lang = 'en' AND n_chars > 200 ORDER BY doc_id""".stripMargin))
  )
}
