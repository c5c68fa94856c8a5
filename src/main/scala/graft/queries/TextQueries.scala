package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.operators.TopK

/** LLM-training-data text pipeline over the `documents` fixture — the
  * operations a 100 TB corpus pipeline runs before anything touches a
  * model: exact + near dedup, token statistics, quality scoring,
  * language ID, TF-IDF, fingerprinting. All pure relational (explode /
  * groupBy / join shapes that partial-aggregate and shuffle on keys), so
  * every query here is DuckDB-checkable.
  *
  * Near-dup uses MinHash whose per-row hash is `md5(seed || shingle)`
  * compared LEXICOGRAPHICALLY — both engines produce identical hex
  * strings, so signatures and LSH band keys hash-match without any
  * engine-specific 64-bit hash. At scale the banded self-join is an
  * equi-shuffle on band keys (never an all-pairs join).
  */
object TextQueries extends QueryPack {

  /** Stopword list shared by quality + langid scoring. */
  private val Stop = Seq("the", "a", "of", "to", "in", "and", "is")

  private val StopSqlList = Stop.map(s => s"'$s'").mkString("(", ", ", ")")

  /** tokens = non-empty lowercase whitespace splits. */
  private[queries] def tokensCol: Column =
    filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)

  private[queries] val tokensSql =
    """list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)"""

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  /** PII patterns shared verbatim by the Spark query and the DuckDB
    * oracle — a dialect-neutral regex subset (character classes +
    * bounded quantifiers; no lookaround, no backrefs, no ambiguous
    * alternation) that Java regex and RE2 match identically. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** The fixture text is synthetic word-salad with no natural PII, so
    * the redaction fixture PLANTS it deterministically (the
    * plantNearDups pattern): pure function of doc_id — partition-
    * invariant, reproducible in SQL. */
  private def plantPii: Column = concat(
    col("text"),
    when(col("doc_id") % 7 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com now"))).otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit(" see https://example.org/p/"), col("doc_id").cast("string"),
        lit("?ref=x8"))).otherwise(lit("")),
    when(col("doc_id") % 13 === 0,
      concat(lit(" call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" today"))).otherwise(lit("")))

  /** Per-row text signals over a `(…, text)` frame — char/token counts,
    * stopword fraction, BPE-ish subword count, language-ID vote — as ONE
    * stateless column block shared by the text_quality / text_langid /
    * text_tokens_bpe batch queries AND the streaming ingest path
    * (StreamingSpec certifies stream == batch row-for-row; no state, no
    * watermark, no shuffle). Input columns pass through untouched. */
  def textSignals(df: DataFrame): DataFrame = {
    def hits(markers: Seq[String]): Column =
      size(filter(col("__toks"), t => t.isin(markers: _*)))
    df.withColumn("__toks", tokensCol)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("stop_frac",
        round(round(size(filter(col("__toks"), t => t.isin(Stop: _*)))
          .cast("double") / size(col("__toks")), 9), 6))
      .withColumn("n_bpe_tokens",
        size(filter(regexp_extract_all(lower(col("text")),
          lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"), lit(0)),
          x => length(trim(x)) > 0)).cast("long"))
      .withColumn("__c_en", hits(Seq("the", "and", "of", "is")))
      .withColumn("__c_fr", hits(Seq("le", "la", "et", "les")))
      .withColumn("__c_de", hits(Seq("der", "die", "und", "das")))
      .withColumn("__c_es", hits(Seq("el", "los", "y", "que")))
      .withColumn("pred_lang",
        when(col("__c_en") + col("__c_fr") + col("__c_de") +
          col("__c_es") === 0, "unk")
          .when(col("__c_en") >= col("__c_fr") &&
            col("__c_en") >= col("__c_de") &&
            col("__c_en") >= col("__c_es"), "en")
          .when(col("__c_fr") >= col("__c_de") &&
            col("__c_fr") >= col("__c_es"), "fr")
          .when(col("__c_de") >= col("__c_es"), "de")
          .otherwise("es"))
      .drop("__toks", "__c_en", "__c_fr", "__c_de", "__c_es")
  }

  /** Redact PII in a `(…, text)` frame: emails/URLs/phone-like spans →
    * typed placeholders, plus per-row counts. Pure stateless per-row
    * expressions — composes unchanged with Structured Streaming
    * (StreamingSpec asserts stream == batch row-for-row). */
  def redactPii(df: DataFrame): DataFrame =
    df.withColumn("n_email", regexp_count(col("text"), lit(EmailRe)))
      .withColumn("n_url", regexp_count(col("text"), lit(UrlRe)))
      .withColumn("n_phone", regexp_count(col("text"), lit(PhoneRe)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailRe, "<EMAIL>"),
            UrlRe, "<URL>"),
          PhoneRe, "<PHONE>"))
      .drop("text")

  /** Overlapping token CHUNKING over a `(doc_id, text)` frame (the
    * RAG/embedding prep step: `size`-token chunks every `stride`
    * tokens). Chunk count from INTEGER arithmetic only ((n-size+
    * stride-1) div stride + 1 — a float ceil could land an ulp off);
    * pure per-row explode, zero shuffle, so it composes unchanged with
    * Structured Streaming (StreamingSpec: stream == batch
    * row-for-row). */
  def chunkTokens(docsDf: DataFrame, size: Int = 64,
                  stride: Int = 48): DataFrame = {
    val t = docsDf.select(col("doc_id"), tokensCol.as("toks"))
      .withColumn("n_tokens",
        org.apache.spark.sql.functions.size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
    t.withColumn("n_chunks",
        when(col("n_tokens") <= size, lit(1L))
          .otherwise(expr(s"(n_tokens - $size + ${stride - 1}) div $stride")
            + 1L))
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("n_toks",
        least(lit(size.toLong), col("n_tokens") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_toks"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("start_tok") + 1).cast("int"),
            col("n_toks").cast("int")))).as("chunk_hash"))
  }

  /** BM25 ranked retrieval (Robertson-Spärck Jones; k1=1.2, b=0.75)
    * over a `(doc_id, text)` frame for an arbitrary `terms` relation
    * (one `term` column) — the parameterized face of the fixed-term
    * `text_bm25` query. Scale shape: two column-pruned corpus passes —
    * one narrow stats aggregate (N, Σdl; at 100 TB that pair is
    * maintained corpus metadata, not recomputed per query) and one
    * token-explode probe hash-joined against the BROADCAST term list
    * (the small side by construction). df and the stats broadcast back
    * into the scoring join — no shuffled join anywhere, plan-asserted —
    * and the final top-k is the bounded-heap
    * [[graft.operators.TopK.perGroupAgg]], never a global sort.
    *
    * Determinism: each per-term partial is quantized to MICRO units
    * (round9 → ×1e6 → long), so the per-doc `sum` is a LONG total —
    * exact in any accumulation order — and the query hash-checks
    * against the DuckDB oracle despite the data-dependent term count
    * (a double sum over a groupBy would be order-dependent and flaky).
    * Reference scope: retrieval scoring is the engine's text-side
    * addition; the reference is vector-only (SURVEY §2). */
  def bm25(docsDf: DataFrame, terms: DataFrame, k: Int = 20): DataFrame =
    bm25Tokenized(tokenizedOf(docsDf), terms, k)

  /** [[bm25]] from an already-tokenized `(doc_id, toks, dl)` projection
    * ([[tokenizedOf]] shape) — callers holding a materialized tokenize
    * pass (the hybrid arms, any multi-consumer pipeline stage) feed it
    * here instead of paying the tokenizer again. */
  private[graft] def bm25Tokenized(t: DataFrame, terms: DataFrame,
                                   k: Int): DataFrame = {
    val docStats = t.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).cast("double").as("sum_dl"))
    // materialized ONCE: bm25Rank consumes tf twice (df aggregate +
    // scoring join), and an un-materialized tf re-tokenizes the whole
    // corpus per consumer (the r14 plan audit counted 9 tokenize
    // pipelines in text_bm25_query). The relation is bounded — matched
    // postings only, ≤ docs × |query terms| rows of ids and counts —
    // so the eager checkpoint is corpus-metadata-sized at any scale.
    val tf = t.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(terms.select(col("term"))), Seq("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .localCheckpoint(true)
    bm25Rank(tf, docStats, k)
  }

  /** Scoring tail shared by the inline [[bm25]] and the persisted
    * inverted-index serving path
    * ([[graft.operators.InvertedIndex.bm25Query]]): rank postings
    * `(doc_id, dl, term, tf)` against 1-row corpus stats
    * `(n_docs, sum_dl)`. df broadcasts back into the scoring join;
    * per-term partials micro-quantize to LONGs before the per-doc sum
    * (exact in any accumulation order); top-k is the bounded heap.
    * Keeping one implementation means the index path can never drift
    * from the hash-green inline formula. */
  private[graft] def bm25Rank(tf: DataFrame, docStats: DataFrame,
                              k: Int): DataFrame = {
    // `tf` feeds BOTH the df aggregate and the scoring join, so its
    // upstream chain runs twice. The INLINE caller materializes its tf
    // before handing it over (re-deriving there re-TOKENIZES the
    // corpus); the index path deliberately does not — its upstream is
    // the bucket-PRUNED postings scan (cheap by construction), and
    // keeping it in this plan is what lets the serving-scan pruning be
    // asserted on the returned DataFrame (InvertedIndexSpec).
    val df = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(docStats))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val part = idf * (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) *
        col("dl").cast("double") / (col("sum_dl") / col("n_docs"))))
    val perDoc = scored
      .withColumn("micro", round(round(part, 9) * lit(1e6), 0).cast("long"))
      .groupBy("doc_id").agg(sum(col("micro")).as("micro"))
      .withColumn("score",
        round(col("micro").cast("double") / lit(1e6), 6))
      .filter(col("score") > 0)
    graft.operators.TopK.perGroupAgg(perDoc, Seq.empty, col("score"),
        col("doc_id"), k, idName = "doc_id")
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("score"))
  }

  /** Tokenized postings `(doc_id, dl, term, tf)` + 1-row batch stats —
    * the append-side input of the persisted inverted index. */
  /** (doc_id, toks, dl) — the tokenized projection both the postings
    * shape and the corpus stats derive from. Callers that need both
    * (the inverted-index append) persist THIS so the tokenizer — the
    * dominant batch cost — runs once, not once per consumer. */
  private[graft] def tokenizedOf(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), tokensCol.as("toks"))
      .withColumn("dl",
        org.apache.spark.sql.functions.size(col("toks")).cast("long"))

  private[graft] def postingsOf(docsDf: DataFrame): DataFrame =
    postingsOfTokenized(tokenizedOf(docsDf))

  private[graft] def postingsOfTokenized(t: DataFrame): DataFrame =
    t.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))

  /** (n_docs, sum_dl, min_id, max_id) of a docs frame — one aggregate,
    * zero-token docs included (they carry dl=0 into the corpus stats
    * exactly as the inline bm25 counts them). */
  private[graft] def corpusStatsOf(docsDf: DataFrame)
      : (Long, Long, Long, Long) =
    corpusStatsOfTokenized(tokenizedOf(docsDf))

  private[graft] def corpusStatsOfTokenized(t: DataFrame)
      : (Long, Long, Long, Long) = {
    val r = t.agg(count(lit(1)).cast("long"), sum(col("dl")),
      min(col("doc_id")), max(col("doc_id"))).first()
    if (r.isNullAt(2)) (0L, 0L, -1L, -1L)
    else (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Query-term list shared by the BM25-query and hybrid-retrieval
    * entries (and their oracles). */
  private val HybridTerms = Seq("the", "data", "model", "learning", "neural")

  /** The two hybrid-retrieval arms over the documents fixture: BM25
    * top-50 for [[HybridTerms]], and hash-embedding cosine top-50 of
    * every doc against the query terms' own hash embedding (the
    * zero-model-weights semantic arm — at scale this slot is any
    * registered ANN tier; the sparse-cosine scan keeps the whole stack
    * DuckDB-checkable). */
  private def hybridArms(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import graft.operators.HybridRetrieval
    import s.implicits._
    val terms = HybridTerms.toDF("term")
    // ONE tokenize pass for BOTH arms: the checkpointed (doc_id, toks,
    // dl) projection feeds the BM25 corpus stats + matched postings AND
    // the hash-embedding arm's token explode — un-materialized, the
    // r14 plan audit counted 10 tokenize pipelines in hybrid_rrf
    val t = tokenizedOf(docs(s, dir)).localCheckpoint(true)
    val lex = bm25Tokenized(t, terms, k = 50)
    val docToks = t.select(col("doc_id"), explode(col("toks")).as("tok"))
    val qToks = terms.select(lit(0L).as("qid"), col("term").as("tok"))
    val dv = HybridRetrieval.hashEmbed(docToks)
    val qv = HybridRetrieval.hashEmbed(qToks, idCol = "qid")
    (lex, HybridRetrieval.sparseCosineTopK(dv, qv, k = 50))
  }

  /** ExactSubstr-style duplicate-SPAN accounting (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2022 —
    * the span-removal step after duplicate n-grams are found): every
    * token position opening an n-gram that appears in ≥2 documents is a
    * duplicate interval [i, i+n); overlapping intervals merge into
    * islands (gaps-and-islands: running max-end window per doc, island
    * id = cumulative new-island flag), and the output reports per doc
    * how many merged regions a span-stripper would cut and how many
    * tokens survive. Shuffles: two md5-gram-keyed linear passes (the
    * [[queries]]' `text_dup_spans` shape) + per-doc windows (bounded by
    * document length, never a global sort). */
  def dupSpanStrip(docsDf: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docsDf.select(col("doc_id"), tokensCol.as("toks"))
    // materialized ONCE, arrays + n_tokens together: consumed by the
    // per-gram doc counts, the interval join, AND the final per-doc
    // report — un-materialized, the tokenize + positioned 8-gram md5
    // pipeline (the dominant cost) runs per consumer, and a separate
    // report-side projection would re-tokenize the corpus just for
    // size(toks). The explodes downstream re-run over the checkpointed
    // arrays (cheap), never over the text.
    val base = t.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => struct(i.cast("long").as("s"),
              md5(concat_ws(" ", (0 until n).map(j =>
                element_at(col("toks"), i + j + 1)): _*)).as("g"))))
          .otherwise(array().cast("array<struct<s:bigint,g:string>>"))
          .as("pgs"))
      .localCheckpoint(true)
    val withPos = base.select(col("doc_id"), explode(col("pgs")).as("pg"))
      .select(col("doc_id"), col("pg.s").as("s"), col("pg.g").as("g"))
    val dc = withPos.groupBy("g").agg(countDistinct("doc_id").as("n_docs"))
    val iv = withPos.join(dc, "g").filter(col("n_docs") >= 2)
      .select(col("doc_id"), col("s"), (col("s") + n).as("e"))
    val w = Window.partitionBy("doc_id").orderBy("s", "e")
    val islands = iv
      .withColumn("prev_max",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val perIsland = islands.groupBy("doc_id", "island")
      .agg((max("e") - min("s")).as("covered"))
    val perDoc = perIsland.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_regions"),
        sum("covered").cast("long").as("dup_tokens"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_regions"), lit(0L)).as("n_dup_regions"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
          .as("kept_tokens"))
  }

  private val plantPiiSql =
    """SELECT doc_id,
      |       text ||
      |       CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
      |       CASE WHEN doc_id % 11 = 0 THEN ' see https://example.org/p/' || CAST(doc_id AS VARCHAR) || '?ref=x8' ELSE '' END ||
      |       CASE WHEN doc_id % 13 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END AS text
      |FROM documents""".stripMargin

  /** Token trigrams WITH duplicates — right for the MinHash paths, whose
    * `min(...)` aggregation is duplicate-insensitive: signatures are
    * bit-identical to the distinct set's, and skipping the dedup turns a
    * full shuffle of every shingle string into map-side partial mins
    * that shuffle 8 sigs per doc. Set-semantics callers (Jaccard) use
    * [[trigrams]], which layers the `distinct` back on. */
  // sequence(a,b) is inclusive and runs DESCENDING when b < a, so
  // short docs (<3 tokens) must yield an explicit empty list
  private def trigramArray: Column =
    when(size(col("toks")) >= 3,
      transform(sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ",
          element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2),
          element_at(col("toks"), i + 3))))
      .otherwise(typedLit(Seq.empty[String]))

  private def trigramsAll(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), tokensCol.as("toks"))
      .select(col("doc_id"), explode(trigramArray).as("shingle"))

  /** (doc_id, h) shingle hashes for an arbitrary (doc_id, text) frame —
    * the feed [[graft.operators.MinHashLsh]] expects; public so
    * incremental-ingest callers (and tests) band ad-hoc batches with
    * exactly the query surface's shingle arithmetic. */
  def shingleHashes(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), tokensCol.as("toks"))
      .select(col("doc_id"), explode(trigramArray).as("shingle"))
      .withColumn("h", md5(col("shingle")))

  /** Distinct (doc_id, shingle) set — the dedup key includes doc_id, so
    * it is exactly a per-doc `array_distinct` BEFORE the explode: a pure
    * per-row expression, where a post-explode `distinct()` would be a
    * full shuffle of every shingle string. */
  private def trigrams(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), tokensCol.as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(trigramArray)).as("shingle"))

  private val trigramsSql =
    s"""SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(greatest(len(toks) - 2, 0)),
       |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
       |FROM (SELECT doc_id, $tokensSql AS toks FROM documents)""".stripMargin

  /** MinHash signature count and LSH banding (2 rows per band). */
  private val NumHashes = 8
  private val RowsPerBand = 2
  private val NumBands = NumHashes / RowsPerBand

  /** Hot-bucket cap for the skew-capped LSH queries — 2 so the sf
    * fixtures (largest bucket: 3 docs) exercise the trim; production
    * corpora would run ~10³. */
  private val MaxBucket = 2L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groupBy (md5), keeper = min doc_id.
    "dedup_exact" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), md5(col("text")).as("text_hash"))
        .groupBy("text_hash")
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
    }),

    // Document fingerprint: md5 over aggressively normalized content
    // (lowercase, strip non-alphanumerics, collapse whitespace) — the
    // cheap whitespace/punctuation-invariant near-dup key.
    "doc_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        md5(trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " "))).as("fingerprint"))
    }),

    // Token statistics: counts + mean token length.
    "text_tokens" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), tokensCol.as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq_tokens"),
          round(round(aggregate(transform(col("toks"), t => length(t).cast("double")),
            lit(0.0), (a, x) => a + x) / size(col("toks")), 9), 6).as("mean_token_len"))
    }),

    // BPE-ish token counting: GPT-style pre-tokenizer regex (letter runs,
    // digit runs, punctuation runs, each with optional leading space),
    // whitespace-only matches dropped — the subword-budget estimator a
    // training pipeline runs before real BPE. Column block shared with
    // the streaming-certified textSignals.
    "text_tokens_bpe" -> ((s, dir) =>
      textSignals(docs(s, dir)).select("doc_id", "n_bpe_tokens")),

    // Quality signals: char/token counts + stopword fraction.
    "text_quality" -> ((s, dir) =>
      textSignals(docs(s, dir))
        .select("doc_id", "n_chars", "n_tokens", "stop_frac")),

    // Language ID: stopword-marker voting with a deterministic argmax
    // chain (en ≥ fr ≥ de ≥ es precedence, 'unk' when no marker hits).
    "text_langid" -> ((s, dir) =>
      textSignals(docs(s, dir)).select("doc_id", "lang", "pred_lang")),

    // TF-IDF: top-3 terms per document (doc_id < 20) with idf = ln(N/df)
    // over the full corpus.
    "text_tfidf" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"), explode(tokensCol).as("term"))
      val n = docs(s, dir).count()
      val tf = toks.filter(col("doc_id") < 20)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "term")
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(lit(n.toDouble) / col("df")), 9).as("tfidf"))
      TopK.perGroup(scored, Seq(col("doc_id")),
          Seq(col("tfidf").desc, col("term").asc), 3)
        .select(col("doc_id"), col("rank"), col("term"),
          round(col("tfidf"), 6).as("tfidf"))
    }),

    // N-gram Jaccard near-dup: top-10 most-similar doc pairs (doc_id < 40)
    // by token-trigram Jaccard, global TakeOrderedAndProject.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val sh = trigrams(s, dir).filter(col("doc_id") < 40)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = sh.as("x").join(sh.as("y"), col("x.shingle") === col("y.shingle"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("n_common").cast("double") /
            (col("na") + col("nb") - col("n_common")), 9).as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
        .limit(10)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // SimHash (16-bit, md5-derived): per token, each bit of the first 4
    // hex digits votes ±tf; the signature sets bit b when the vote sum is
    // positive. Bit arithmetic generated from one loop on both engines.
    "dedup_simhash" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(tokensCol).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("h", md5(col("term")))
      val voteCols = (0 until 16).map { b =>
        val d = b / 4 + 1
        val sh = 3 - (b % 4)
        val digit = expr(s"instr('0123456789abcdef', substring(h, $d, 1)) - 1")
        sum(when(shiftright(digit, sh).bitwiseAND(lit(1)) === 1, col("tf"))
          .otherwise(-col("tf"))).as(s"v$b")
      }
      val sums = tf.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      val simhash = (0 until 16).map { b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      sums.select(col("doc_id"), simhash.as("simhash"))
    }),

    // MinHash signatures for doc_id < 50. The 8 hash values per shingle
    // are the 8 four-hex-char chunks of ONE md5 (split-hash practice —
    // one digest instead of eight per shingle row); min is lexicographic,
    // identical in both engines.
    "dedup_minhash_sig" -> ((s, dir) => {
      val sh = trigramsAll(s, dir).filter(col("doc_id") < 50)
        .withColumn("h", md5(col("shingle")))
      val sigs = (1 to NumHashes).map(r =>
        min(substring(col("h"), (r - 1) * 4 + 1, 4)).as(s"sig$r"))
      sh.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
    }),

    // MinHash-LSH candidate pairs: band signatures (2 rows/band), bucket
    // equi-join, count shared bands per pair. Never an all-pairs join —
    // the shuffle key is the band hash. Logic lives in
    // operators.MinHashLsh so the hot-band skew path is testable on
    // synthetic fixtures.
    "dedup_minhash_pairs" -> ((s, dir) =>
      graft.operators.MinHashLsh.bandedPairs(
        trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
        NumHashes, RowsPerBand)),

    // Skew-capped LSH pairs — the 100 TB escape hatch for hot band
    // keys (boilerplate templates collapse thousands of docs onto one
    // bucket, and the self-join would emit O(bucket²) pairs on a single
    // reducer). Buckets over MaxBucket docs emit no pairs; they are
    // routed to the hot-bucket report below instead, so the recall loss
    // is auditable, never silent. Cap=2 here so the fixture actually
    // trims (its largest buckets hold 3 docs).
    "dedup_minhash_capped" -> ((s, dir) =>
      graft.operators.MinHashLsh.cappedPairs(
        trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
        NumHashes, RowsPerBand, maxBucket = MaxBucket)),

    // The degenerate-template report paired with the cap: which band
    // buckets were suppressed and how many docs each absorbed. A real
    // pipeline follows with an O(bucket) exact-dedup pass per listed
    // bucket instead of the O(bucket²) pair join.
    "dedup_lsh_hot_buckets" -> ((s, dir) =>
      graft.operators.MinHashLsh.hotBuckets(
        graft.operators.MinHashLsh.bandKeys(
          trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
          NumHashes, RowsPerBand),
        maxBucket = MaxBucket)
        .select(col("band").cast("long").as("band"), col("key"),
          col("n_docs"))),

    // INCREMENTAL near-dup dedup — the daily-ingest posture: the
    // resident corpus (doc_id % 4 != 0 here) persists its band-key
    // index ONCE; a new batch (doc_id % 4 == 0) computes keys for
    // itself only and probes the index with its keys BROADCAST, so
    // resident text is never recomputed and resident rows never
    // shuffle. Output = exactly the banded pairs of the union corpus
    // that touch the batch; the oracle asserts that equivalence in one
    // SQL statement over the full corpus.
    "dedup_incremental" -> ((s, dir) => {
      import graft.operators.MinHashLsh
      // ONE shingle→signature pass for every tranche: bandKeys
      // aggregates per doc_id, so a doc_id predicate commutes through
      // it exactly — bandKeys(sh.filter(p)) == bandKeys(sh).filter(p).
      // Computing the whole corpus's keys once (the index write
      // materializes it, the probe filter reads the blocks, the bench's
      // between-queries eviction drops them) replaces one full
      // tokenize+trigram+md5+signature pipeline PER TRANCHE — the
      // dominant cost of these certificates at every scale.
      // localCheckpoint, NOT persist: persist registers the plan in the
      // JVM-global CacheManager, silently rewriting every LATER query
      // over the same band-key subtree (e.g. dedup_minhash_*) into an
      // InMemoryTableScan — cross-query plan leakage this repo bans.
      val allKeys = MinHashLsh.bandKeys(
          trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
          NumHashes, RowsPerBand)
        .localCheckpoint(false)
      val idx = Fixtures.tempDir("graft_bandidx_")
      MinHashLsh.writeBandIndex(
        allKeys.filter(col("doc_id") % 4 =!= 0), idx)
      MinHashLsh.incrementalPairs(
        MinHashLsh.readBandIndex(s, idx),
        allKeys.filter(col("doc_id") % 4 === 0))
    }),

    // The COMPACTION lifecycle on the oracle surface: the resident
    // index is built the way months of ingest actually build it — an
    // initial write, a later delta APPEND, and an at-least-once
    // REPLAYED append (exact duplicate rows, the stale-watermark crash
    // case) — then folded by compactBandIndex (dup rows dropped,
    // key-range layout, two-rename swap with crash recovery at entry)
    // and probed. Must hash-equal dedup_incremental: compaction is
    // answer-preserving, including after a replay double-append.
    "dedup_incremental_compacted" -> ((s, dir) => {
      import graft.operators.MinHashLsh
      // one signature pass for all four tranches (see dedup_incremental
      // — a doc_id filter commutes through bandKeys); the replayed
      // delta in particular re-APPENDS from the cache instead of
      // re-running the whole shingle pipeline for identical rows
      val allKeys = MinHashLsh.bandKeys(
          trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
          NumHashes, RowsPerBand)
        .localCheckpoint(false)
      val idx = Fixtures.tempDir("graft_bandidx_compact_")
      def keysOf(pred: org.apache.spark.sql.Column) = allKeys.filter(pred)
      MinHashLsh.writeBandIndex(
        keysOf(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2), idx)
      MinHashLsh.appendBandIndex(keysOf(col("doc_id") % 4 === 3), idx)
      // the replay: the same delta appended AGAIN (at-least-once)
      MinHashLsh.appendBandIndex(keysOf(col("doc_id") % 4 === 3), idx)
      MinHashLsh.compactBandIndex(s, idx)
      MinHashLsh.incrementalPairs(
        MinHashLsh.readBandIndex(s, idx), keysOf(col("doc_id") % 4 === 0))
    }),

    // The DELETION lifecycle of the resident dedup index: tranche 1
    // (doc_id % 9 = 0 among residents) is tombstoned, REPLAYED
    // idempotently, physically erased by compaction; tranche 2 (% 11)
    // is tombstoned after the compact and served through the live
    // anti-join. The probe must hash-equal the banded pairs of the
    // SURVIVING union corpus that touch the batch — i.e. a taken-down
    // doc generates no candidate pairs the moment the delete returns,
    // and none after the physical erase either.
    "dedup_incremental_deleted" -> ((s, dir) => {
      import graft.operators.MinHashLsh
      // one signature pass for resident + probe tranches (see
      // dedup_incremental — a doc_id filter commutes through bandKeys)
      val allKeys = MinHashLsh.bandKeys(
          trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
          NumHashes, RowsPerBand)
        .localCheckpoint(false)
      val idx = Fixtures.tempDir("graft_bandidx_del_")
      def keysOf(pred: org.apache.spark.sql.Column) = allKeys.filter(pred)
      MinHashLsh.writeBandIndex(keysOf(col("doc_id") % 4 =!= 0), idx)
      val t1 = docs(s, dir)
        .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 9 === 0)
        .select("doc_id")
      MinHashLsh.deleteFromBandIndex(s, idx, t1)
      MinHashLsh.deleteFromBandIndex(s, idx, t1) // replayed: no-op
      MinHashLsh.compactBandIndex(s, idx) // tranche 1 physically gone
      MinHashLsh.deleteFromBandIndex(s, idx, docs(s, dir)
        .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 11 === 0)
        .select("doc_id"))
      MinHashLsh.incrementalPairs(
        MinHashLsh.readBandIndex(s, idx), keysOf(col("doc_id") % 4 === 0))
    }),

    // Duplicate-CLUSTER resolution — the step every real pipeline runs
    // right after the pair queries above: connected components over the
    // MinHash near-dup pairs (alternating large-star/small-star, bounded
    // rounds, no driver graph), then the min-id keep-rule. Every document
    // gets a cluster (no-pair docs are singletons); is_canonical marks
    // the survivor. Oracle: DuckDB recursive CTE over the SAME pair set.
    "dedup_clusters" -> ((s, dir) => {
      val pairs = graft.operators.MinHashLsh.bandedPairs(
          trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
          NumHashes, RowsPerBand)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      graft.operators.ConnectedComponents.resolve(docs(s, dir), pairs)
    }),

    // Same clusters, max-QUALITY keep-rule (quality = char length, the
    // "keep the longest copy" heuristic real pipelines default to):
    // canonical = argmax(quality, tie → min doc_id) per cluster.
    "dedup_clusters_quality" -> ((s, dir) => {
      val pairs = graft.operators.MinHashLsh.bandedPairs(
          trigramsAll(s, dir).withColumn("h", md5(col("shingle"))),
          NumHashes, RowsPerBand)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val docsQ = docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("double").as("quality"))
      graft.operators.ConnectedComponents.resolveByQuality(docsQ, pairs)
    }),

    // PII REDACTION — the scrubbing pass every training-data pipeline
    // runs before text leaves the curation boundary: emails, URLs, and
    // phone-like sequences replaced by typed placeholders, with per-doc
    // counts of each. Pure per-row regexp expressions — zero shuffle at
    // any corpus size. PII is deterministically planted (fixture text
    // has none); patterns are the dialect-neutral subset above, so the
    // DuckDB oracle redacts bit-identically.
    "text_pii_redact" -> ((s, dir) =>
      redactPii(docs(s, dir).select(col("doc_id"), plantPii.as("text")))),

    // Per-language VOCABULARY top-k — tokenizer-training prep: the 10
    // highest-frequency tokens per language (ties → token asc). The
    // corpus shuffle is the keyed (lang, token) partial-count agg; the
    // rank window then runs over the tiny post-aggregation vocab table
    // (O(distinct tokens), corpus-size-independent), so the window's
    // per-lang partitions are never a scale concern.
    "text_vocab_topk" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("lang"), explode(tokensCol).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
      import org.apache.spark.sql.expressions.Window
      tf.withColumn("rank", row_number().over(
          Window.partitionBy("lang")
            .orderBy(col("tf").desc, col("token").asc)))
        .filter(col("rank") <= 10)
    }),

    // OOV RATE vs the corpus top-500 vocabulary — the tokenizer-health
    // metric a pipeline computes before committing a vocab size. Global
    // token counts decompose map-side (keyed partial agg, no corpus
    // sort); the vocab itself comes from orderBy+limit (TakeOrdered —
    // distributed top-V, never a single-task rank window); the kept
    // vocab is vocab-sized, so it broadcasts into the per-(doc, token)
    // membership join. Ties at the V boundary break (tf desc, token
    // asc) identically in both engines.
    "text_oov_rate" -> ((s, dir) => {
      val V = 500
      // explode_outer keeps zero-token docs as one null-token row, so a
      // single exploded relation serves BOTH the vocab aggregate and the
      // per-doc scoring pass — the previous shape tokenized the corpus
      // three times (vocab counts, membership join, per-doc n_tokens).
      // count(token) skips the null sentinel, so n_tokens is exact.
      val toks = docs(s, dir)
        .select(col("doc_id"), explode_outer(tokensCol).as("token"))
      val vocab = toks.filter(col("token").isNotNull)
        .groupBy("token").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token").asc).limit(V)
        .select(col("token"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id").agg(
          count(col("token")).as("n_tokens"),
          coalesce(sum(col("in_vocab")), lit(0L)).as("n_in"))
        .select(col("doc_id"), col("n_tokens"),
          round(round((col("n_tokens") - col("n_in"))
            .cast("double") / col("n_tokens"), 9), 6).as("oov_rate"))
    }),

    // BIGRAM-LM PERPLEXITY — the CCNet/Gopher-style quality filter: an
    // add-1-smoothed bigram LM trained on the corpus itself scores each
    // document's cross-entropy (nats/bigram) and perplexity (e^H).
    // Scale shape: the LM is two map-side-combined groupBy counts
    // (context c(w1) = bigram starts, pair c(w1,w2)); scoring joins the
    // per-doc bigram tf against the LM on the n-gram KEY — a shuffle
    // hash join, because a 100 TB corpus's bigram table does not
    // broadcast; every count row co-locates with all its uses. The
    // vocab-size scalar is a single-row broadcast crossJoin. Per-bigram
    // log-probs round at 9 before the (order-insensitive up to round-6)
    // per-doc average, per the repo's float discipline.
    "text_perplexity" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"), tokensCol.as("toks"))
      val bi = toks.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // ONE bigram pass: the LM counts DERIVE from the per-doc tf by
      // exact integer sums — c(w1,w2) = Σ_doc tf, c(w1) = Σ_w2 c(w1,w2)
      // — computed as WINDOW sums over tf itself, so the
      // tokenize+zip+explode pipeline (the dominant cost) runs once
      // instead of once per count table (the previous shape was 3
      // corpus passes + two re-shuffling joins). The c1 window comes
      // first: its exchange hash-partitions by w1, which already
      // satisfies the (w1, w2) window's clustering (w1 is a subset of
      // its keys), so the second window adds only a sort — one
      // tf-sized exchange serves both LM count tables.
      val vdf = docs(s, dir).select(explode(tokensCol).as("t"))
        .agg(countDistinct(col("t")).as("v"))
      import org.apache.spark.sql.expressions.Window
      // The LM counts must NOT be windows over tf itself: a
      // Window.partitionBy(w1) on the per-doc tf puts every row of a hot
      // head token ("the") into ONE task's sort buffer — a single-task
      // hotspot at corpus scale, with no map-side partial aggregation
      // and out of AQE's reach (skew handling covers joins only).
      // Instead: tf is materialized ONCE (doc_id-partitioned, so the
      // per-doc aggregate below needs no further exchange; the
      // checkpoint is what keeps the corpus tokenize+explode single-pass
      // — both LM derivation and scoring read it, where the un-
      // materialized join shape re-ran the explode per side); c12
      // aggregates per DISTINCT bigram with map-side partials; c1 rides
      // a window over the distinct-bigram table (partition size =
      // distinct w2 per w1 — vocabulary-bounded, never corpus-bounded);
      // and the counts join back on the bigram key, unhinted: AQE
      // broadcasts the LM side while it fits and falls back to a
      // skew-splittable shuffle join at corpus scale.
      val tf = bi.repartition(col("doc_id"))
        .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val lm = tf.groupBy("w1", "w2").agg(sum(col("tf")).as("c12"))
        .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
      val scored = tf.join(lm, Seq("w1", "w2"))
        .crossJoin(broadcast(vdf))
        .select(col("doc_id"), col("tf"),
          round(log((col("c12") + lit(1)).cast("double") /
            (col("c1") + col("v"))), 9).as("lp"))
      val h = -col("s") / col("n_bigrams")
      scored.groupBy("doc_id")
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("lp")).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          round(round(h, 9), 6).as("xent"),
          round(round(exp(round(h, 9)), 9), 6).as("ppl"))
    }),

    // Text NORMALIZATION — the canonical pre-tokenization cleanup
    // (lowercase, collapse runs of whitespace, trim) plus the before/
    // after char counts a pipeline audits shrinkage with. Pure per-row
    // expressions — zero shuffle.
    "text_normalize" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars_raw"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")))),

    // Benchmark DECONTAMINATION: flag training docs sharing >= 3 distinct
    // token trigrams with the eval slice (doc_id % 17 == 0 stands in for
    // the held-out benchmark). The eval shingle set is broadcast BY
    // DESIGN — benchmark suites are small by definition, and a shuffle
    // join here would move every training shingle across the cluster.
    "decontaminate" -> ((s, dir) => {
      val sh = trigrams(s, dir) // distinct sets: n_common = shared count
      val evalSh = sh.filter(col("doc_id") % 17 === 0)
        .select(col("shingle")).distinct()
      val hits = sh.filter(col("doc_id") % 17 =!= 0)
        .join(broadcast(evalSh), "shingle")
        .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
      docs(s, dir).filter(col("doc_id") % 17 =!= 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          (coalesce(col("n_common"), lit(0L)) >= 3).cast("long")
            .as("is_contaminated"))
    }),

    // Decontamination, BLOOM-PRUNED twin — the posture for when the eval
    // shingle set outgrows a comfortable broadcast-hash build: a Bloom
    // filter over the eval shingles (kilobytes at 1% FPP, vs the full
    // string set) prunes the training-shingle STREAM partition-locally,
    // and only the surviving ~hit-rate fraction enters the exact verify
    // join that removes the false positives. Bloom has no false
    // negatives and the verify join is exact, so the result is
    // bit-identical to `decontaminate` — same oracle, hash-checked.
    "decontaminate_bloom" -> ((s, dir) => {
      import s.implicits._
      val sh = trigrams(s, dir)
      val evalSh = sh.filter(col("doc_id") % 17 === 0)
        .select(col("shingle")).distinct()
      val bloom = evalSh.stat.bloomFilter("shingle",
        expectedNumItems = 100000L, fpp = 0.01)
      val bloomB = s.sparkContext.broadcast(bloom)
      val candidates = sh.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("shingle")).as[(Long, String)]
        .mapPartitions { it =>
          val bf = bloomB.value
          it.filter { case (_, g) => bf.mightContain(g) }
        }.toDF("doc_id", "shingle")
      val hits = candidates.join(broadcast(evalSh), "shingle")
        .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
      docs(s, dir).filter(col("doc_id") % 17 =!= 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          (coalesce(col("n_common"), lit(0L)) >= 3).cast("long")
            .as("is_contaminated"))
    }),

    // Token-budget SEQUENCE PACKING: assign docs (in doc_id order) to
    // fixed-budget training sequences — seq_id = how many full 512-token
    // budgets precede the doc. The naive form is one global cumulative
    // window (a single task holding the corpus); this is the scale-
    // correct multi-level prefix sum: bounded per-bucket windows run in
    // parallel, and the bucket-total offsets recurse the same
    // decomposition two more levels (graft.operators.PrefixSum), so NO
    // window anywhere spans more than 64Ki rows until the top table has
    // shrunk by 256·65536² — at a 10¹² doc corpus that top window is a
    // handful of rows, where the old two-level form left ~10⁹ rows in
    // one task. bucket = doc_id div 256 is monotone in doc_id, so the
    // decomposed cumsum equals the global one exactly.
    "pack_sequences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // ONE tokenize pass: `t` feeds BOTH the in-bucket cumsum and the
      // bucket-total aggregate, and without materialization each branch
      // re-scans the text and re-tokenizes (the r14 plan audit showed
      // two FileScan+split+filter pipelines). The checkpointed
      // projection is 24 B/doc — corpus metadata, never the text.
      val t = docs(s, dir).select(col("doc_id"),
        size(tokensCol).cast("long").as("n_tokens"),
        expr("doc_id div 256").as("bucket"))
        .localCheckpoint(true)
      val wIn = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCum = t.withColumn("in_cum", sum("n_tokens").over(wIn))
      val offsets = graft.operators.PrefixSum.exclusiveOffsets(
        t.groupBy("bucket").agg(sum("n_tokens").as("btot")),
        "bucket", "btot", levels = 2)
      withCum.join(broadcast(offsets), "bucket")
        .select(col("doc_id"), col("n_tokens"),
          expr("(boff + in_cum - n_tokens) div 512").as("seq_id"))
    }),

    // Deterministic GLOBAL SHUFFLE order — reproducible training-example
    // ordering as rank over md5(doc_id) (doc_id tie-break guards the
    // astronomically-unlikely digest collision identically in both
    // engines). Same two-level decomposition as pack_sequences: the
    // bucket is the key's first 2 hex chars, monotone in key order, so
    // parallel within-bucket row_numbers plus a tiny 256-row offset
    // table equal the global row_number exactly.
    "shuffle_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = docs(s, dir).select(col("doc_id"),
          md5(col("doc_id").cast("string")).as("skey"))
        .withColumn("bucket", substring(col("skey"), 1, 2))
      val wIn = Window.partitionBy("bucket")
        .orderBy(col("skey"), col("doc_id"))
      val withRn = t.withColumn("in_rn", row_number().over(wIn))
      val wOff = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = t.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .withColumn("boff", coalesce(sum("bn").over(wOff), lit(0L)))
        .select(col("bucket"), col("boff"))
      withRn.join(broadcast(offsets), "bucket")
        .select(col("doc_id"),
          (col("boff") + col("in_rn")).cast("long").as("shuffle_rank"))
    }),

    // Deterministic STRATIFIED sampling — the data-mixing step (keep 25%
    // of dominant en, 75% of underrepresented zh, 50% elsewhere). The
    // keep decision is a lexicographic compare of md5(doc_id)'s first 8
    // hex chars against the stratum's rate threshold: exact, seedless,
    // reproducible on any engine, and embarrassingly parallel (pure
    // filter — no shuffle, no sort, no RNG state).
    "sample_stratified" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), col("lang"))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 8) <
          when(col("lang") === "en", "40000000")
            .when(col("lang") === "zh", "c0000000")
            .otherwise("80000000"))
    }),

    // Intra-document REPETITION signals (the Gopher/RefinedWeb repetition
    // filters): duplicate-token fraction, duplicate-trigram fraction, and
    // most-frequent-bigram mass. Every signal is a per-row array
    // expression — no explode, no shuffle, embarrassingly parallel at any
    // corpus size. The O(d·n) most-frequent-bigram scan is bounded by
    // document length, not corpus size.
    "text_repetition" -> ((s, dir) => {
      val bigramArray =
        when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ",
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2))))
          .otherwise(typedLit(Seq.empty[String]))
      def dupFrac(c: Column): Column =
        when(size(c) > 0,
          lit(1.0) - size(array_distinct(c)).cast("double") / size(c))
          .otherwise(lit(0.0))
      // top-bigram count via sort + max-run-length: the previous
      // distinct×filter form was O(u·d) per document (one O(d) filter
      // per distinct bigram — ~10k string compares on a 100-token doc);
      // sorting the bigram array and folding the longest equal run is
      // O(d log d) with one pass, the same number out (the max
      // frequency is order-free). Still a pure per-row expression —
      // zero shuffle at any corpus size.
      val sortedBg = array_sort(col("bg"))
      val eqRuns = zip_with(
        slice(sortedBg, lit(1), size(col("bg")) - 1),
        slice(sortedBg, lit(2), size(col("bg")) - 1),
        (a, b) => (a === b).cast("int"))
      val topCount = aggregate(eqRuns,
        struct(lit(1).as("cur"), lit(1).as("mx")),
        (acc, e) => {
          val cur = when(e === 1, acc.getField("cur") + 1).otherwise(1)
          struct(cur.as("cur"),
            greatest(acc.getField("mx"), cur).as("mx"))
        },
        acc => acc.getField("mx"))
      docs(s, dir).select(col("doc_id"), tokensCol.as("toks"))
        .select(col("doc_id"), col("toks"),
          bigramArray.as("bg"), trigramArray.as("tg"))
        .select(col("doc_id"),
          round(round(dupFrac(col("toks")), 9), 6).as("dup_token_frac"),
          round(round(dupFrac(col("tg")), 9), 6).as("dup_trigram_frac"),
          round(round(when(size(col("bg")) > 0,
            topCount.cast("double") / size(col("bg")))
            .otherwise(lit(0.0)), 9), 6)
            .as("top_bigram_frac"))
    }),

    // Corpus-wide REPEATED-SPAN detection (the exact-substring dedup
    // family, Lee et al. 2022 "Deduplicating Training Data Makes
    // Language Models Better"): per doc, how many of its token 8-gram
    // spans also occur in at least one OTHER doc. Scale shape: one
    // explode + two keyed aggregations (gram counts partial-aggregate
    // map-side; the gram-join is an equi-shuffle on the gram hash, never
    // all-pairs); md5 the grams so the shuffle carries 32-char keys, not
    // raw spans.
    "text_dup_spans" -> ((s, dir) => {
      val n = 8
      // materialized ONCE: the gram relation feeds both the per-gram
      // doc counts and the per-doc join, and the tokenize + 8-gram md5
      // pipeline (the dominant cost) would otherwise run per consumer
      val grams = docs(s, dir).select(col("doc_id"), tokensCol.as("toks"))
        .select(col("doc_id"), explode(
          when(size(col("toks")) >= n,
            transform(sequence(lit(0), size(col("toks")) - n),
              i => md5(concat_ws(" ", (0 until n).map(j =>
                element_at(col("toks"), i + j + 1)): _*))))
            .otherwise(typedLit(Seq.empty[String]))).as("g"))
        .localCheckpoint(true)
      val docCounts = grams.groupBy("g")
        .agg(countDistinct("doc_id").as("n_docs"))
      val perDoc = grams.join(docCounts, "g")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_spans"),
          sum((col("n_docs") >= 2).cast("long")).as("n_dup_spans"))
      docs(s, dir).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
    }),

    // Feature-hashing document embeddings (Weinberger et al. 2009, the
    // "hashing trick"): each token hashes to one of 32 signed buckets
    // (md5 nibbles — engine-portable), per-doc bucket sums L2-normalize
    // into a cheap deterministic text embedding. The bridge from the
    // documents table to every embedding-side operator (semdedup / LSH /
    // kNN run on its output unchanged) with zero model weights. Long
    // form (doc_id, pos, val), nonzero buckets only — hash-checked.
    // Scale shape: explode + one map-side-combinable groupBy on
    // (doc_id, bucket); norm is a per-doc window over ≤32 rows.
    "doc_embed_hash" -> ((s, dir) =>
      graft.operators.HybridRetrieval.hashEmbed(
        docs(s, dir).select(col("doc_id"), explode(tokensCol).as("tok")))),

    // HYBRID RETRIEVAL, arm 1+2 fused by Reciprocal Rank Fusion
    // (Cormack et al. 2009): BM25 top-50 (the bm25 operator, broadcast
    // term join + bounded heap) ∪ hash-embedding cosine top-50 (sparse
    // pico-exact dot against the query terms' OWN hash embedding),
    // score = 1/(60+r_lex) + 1/(60+r_sem), re-ranked, top-20. The
    // production RAG/curation retrieval stack end-to-end, deterministic
    // enough to hash-check: every data-width sum is integer-quantized,
    // fusion is a fixed two-term expression over two ≤50-row lists.
    "hybrid_rrf" -> ((s, dir) => {
      val (lex, sem) = hybridArms(s, dir)
      graft.operators.HybridRetrieval.rrfFuse(lex, sem, k = 20)
    }),

    // The same two arms fused by weighted min-max normalization (Lee
    // 1997 CombSUM lineage): each arm's scores normalize onto [0,1]
    // over its own top-50 list, fused score = 0.5·lex + 0.5·sem —
    // the score-aware fusion twin of hybrid_rrf (rank-only). Arm
    // min/max are order-independent aggregates; per-row arithmetic is
    // fixed-width, so this too is DuckDB-hash-checkable.
    "hybrid_weighted" -> ((s, dir) => {
      val (lex, sem) = hybridArms(s, dir)
      graft.operators.HybridRetrieval.minMaxFuse(lex, sem, k = 20)
    }),

    // Gopher quality rules (Rae et al. 2021, appendix A1.1 — the
    // published heuristic filter battery MassiveText/RefinedWeb-style
    // pipelines run before dedup): word-count bounds, mean-word-length
    // bounds, symbol-to-word ratio, alphabetic-word fraction, stopword
    // floor — pure per-row expressions (zero shuffle), each signal
    // reported plus the composed keep flag. Thresholds are the paper's.
    "text_gopher_rules" -> ((s, dir) => {
      val stopLit = typedLit(Stop)
      val t = docs(s, dir).select(col("doc_id"), col("text"),
        tokensCol.as("toks"))
        .withColumn("n_words", size(col("toks")).cast("long"))
      val sumLen = aggregate(col("toks"), lit(0L),
        (acc, tok) => acc + length(tok).cast("long"))
      val meanWl = when(col("n_words") === 0, lit(0.0))
        .otherwise(round(sumLen.cast("double") / col("n_words"), 9))
      val alphaFrac = when(col("n_words") === 0, lit(0.0))
        .otherwise(round(
          size(filter(col("toks"), tok => tok.rlike("[a-z]")))
            .cast("double") / col("n_words"), 9))
      val symbolRatio = when(col("n_words") === 0, lit(0.0))
        .otherwise(round(
          (regexp_count(col("text"), lit("#")) +
            regexp_count(col("text"), lit("\\.\\.\\."))).cast("double") /
            col("n_words"), 9))
      val stopHits = size(filter(col("toks"),
        tok => array_contains(stopLit, tok))).cast("long")
      t.withColumn("mean_word_len", meanWl)
        .withColumn("alpha_frac", alphaFrac)
        .withColumn("symbol_ratio", symbolRatio)
        .withColumn("stop_hits", stopHits)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("alpha_frac"), 6).as("alpha_frac"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          col("stop_hits"),
          (col("n_words") >= 50 && col("n_words") <= 100000 &&
            col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
            col("symbol_ratio") < 0.1 && col("alpha_frac") > 0.8 &&
            col("stop_hits") >= 2).cast("long").as("keep"))
    }),

    // ExactSubstr-style span STRIPPING accounting on top of the dup-gram
    // detection: merged duplicate regions per doc (gaps-and-islands) +
    // surviving token count — what a span-removal pass would actually
    // cut, not just how many grams repeat.
    "text_dup_span_strip" -> ((s, dir) => dupSpanStrip(docs(s, dir))),

    // Deterministic train/val/test SPLIT assignment — hash-range split
    // (93.75 / 3.125 / 3.125 via power-of-two hex thresholds): seedless,
    // reproducible on any engine, stable under corpus growth (a doc
    // never changes split when new docs arrive — the property random
    // splits lack), pure per-row expression.
    "split_assign" -> ((s, dir) => {
      val h = substring(md5(col("doc_id").cast("string")), 1, 8)
      docs(s, dir).select(col("doc_id"),
        when(h < "f0000000", "train")
          .when(h < "f8000000", "val")
          .otherwise("test").as("split"))
    }),

    // EXACT corpus-statistics quantiles (p50/p90/p99 token counts per
    // language) — the distribution report a curation pipeline runs after
    // every filter stage. Exact distributed quantiles normally need a
    // global sort; token counts are a small DISCRETE domain, so this is
    // the scale-correct decomposition: one map-side-combinable groupBy
    // to value counts (the only corpus shuffle), then the quantile is a
    // cumulative scan over the tiny (lang × distinct-count) table —
    // quantile_disc semantics (smallest v with cum ≥ ⌈p·n⌉), exact at
    // any corpus size, no sort of the corpus, no t-digest approximation.
    "text_length_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, dir)
        .select(col("lang"), size(tokensCol).cast("long").as("n_tokens"))
        .groupBy("lang", "n_tokens").agg(count(lit(1)).as("cnt"))
      val withCum = counts
        .withColumn("cum", sum("cnt").over(Window.partitionBy("lang")
          .orderBy("n_tokens")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cnt").over(Window.partitionBy("lang")))
      def q(p: Double): Column =
        min(when(col("cum") >= ceil(lit(p) * col("n")), col("n_tokens")))
      withCum.groupBy("lang").agg(
        q(0.5).as("p50_tokens"), q(0.9).as("p90_tokens"),
        q(0.99).as("p99_tokens"))
    }),

    // Per-SOURCE cap — the domain-balancing step (keep at most 10 docs
    // per source/domain, chosen by md5(doc_id) rank: deterministic,
    // seedless). Runs on the bounded-heap TopK aggregator, so each map
    // task forwards ≤ cap rows per source and the shuffle carries
    // O(sources × cap) rows — a rank-window here would sort every
    // source's full partition. md5's first 8 hex chars fit a 32-bit int
    // (exact in double); doc_id breaks the birthday ties identically in
    // both engines.
    // The COMPLETE curation pipeline as ONE declarative DAG — the
    // composition a training-data team actually ships: quality filter →
    // eval/train split → MinHash near-dup clusters → canonical survivors
    // → benchmark decontamination → stratified language mixing → token-
    // budget sequence packing. Every stage is the already-certified
    // operator (same knobs as its standalone query); the whole thing is
    // hash-checked against a single recursive DuckDB statement. Catalyst
    // sees one plan, so the quality filter pushes below every downstream
    // stage and the corpus is scanned once per shingle consumer instead
    // of once per stage boundary.
    "pipeline_curate" -> ((s, dir) => {
      // ONE tokenize pass for the whole DAG: `base` feeds the quality
      // filter, both shingle consumers (near-dup pairs + decontam), the
      // mixing stage, and the packing windows — un-materialized, each
      // branch re-scanned the text and re-tokenized (the r14 plan audit
      // counted 7 corpus scans / 18 tokenize pipelines). The staged
      // tokenized projection is the same discipline the inverted-index
      // ingest uses (tokenize once, every consumer reads the
      // projection); at 100 TB one disk-backed materialization beats
      // seven corpus re-reads outright.
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
          tokensCol.as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .localCheckpoint(true)
      val qual = base.filter(col("n_tokens") >= 20)
      val train = qual.filter(col("doc_id") % 17 =!= 0)
      // near-dup clusters over the train slice (dup-insensitive MinHash:
      // raw shingles feed the min, same signatures as the distinct set)
      val sh = train.select(col("doc_id"), explode(trigramArray).as("shingle"))
      val pairs = graft.operators.MinHashLsh.bandedPairs(
          sh.withColumn("h", md5(col("shingle"))), NumHashes, RowsPerBand)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val surv = graft.operators.ConnectedComponents
        .resolve(train.select("doc_id"), pairs)
        .filter(col("is_canonical") === 1).select("doc_id")
      // decontaminate survivors against the eval slice's shingle set
      val evalSh = base.filter(col("doc_id") % 17 === 0)
        .select(explode(array_distinct(trigramArray)).as("shingle"))
        .distinct()
      val trainSh = train.join(surv, Seq("doc_id"))
        .select(col("doc_id"), explode(array_distinct(trigramArray)).as("shingle"))
      val hits = trainSh.join(broadcast(evalSh), "shingle")
        .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
      val clean = train.join(surv, Seq("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .filter(coalesce(col("n_common"), lit(0L)) < 3)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      // stratified language mixing (sample_stratified's thresholds)
      val sampled = clean.filter(
        substring(md5(col("doc_id").cast("string")), 1, 8) <
          when(col("lang") === "en", "40000000")
            .when(col("lang") === "zh", "c0000000")
            .otherwise("80000000"))
      // token-budget packing via the recursive prefix sum (bucket is
      // monotone in doc_id, so this equals the global cumsum exactly;
      // same bounded-window guarantee as pack_sequences)
      import org.apache.spark.sql.expressions.Window
      val t = sampled.withColumn("bucket", expr("doc_id div 256"))
      val wIn = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCum = t.withColumn("in_cum", sum("n_tokens").over(wIn))
      val offsets = graft.operators.PrefixSum.exclusiveOffsets(
        t.groupBy("bucket").agg(sum("n_tokens").as("btot")),
        "bucket", "btot", levels = 2)
      withCum.join(broadcast(offsets), "bucket")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr("(boff + in_cum - n_tokens) div 512").as("seq_id"))
    }),

    // TOKEN-BUDGET DATA MIXING — the mixture-weights step of a training
    // run: each source contributes documents, in deterministic shuffle
    // order (md5 key — seedless, engine-independent), until its TOKEN
    // budget fills (kept iff the tokens before it leave budget; the
    // crossing doc is included, so every non-empty budget is met).
    // Scale shape: same bounded-window discipline as pack_sequences —
    // the per-source cumsum is decomposed over 256 skey-prefix buckets
    // (windows bounded per (source, bucket)), and the offsets table is
    // ≤256 rows per source, broadcast. A naive partitionBy(source)
    // window would put a billion-doc source in one task.
    "mix_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // `t` feeds BOTH the in-bucket cumsum and the per-(source,
      // bucket) offsets aggregate, so the tokenize runs once per
      // branch. The r20 round checkpointed this projection to
      // single-pass it; the r21 sf1 A/B measured the checkpoint LOSING
      // at 10× bench scale (0.74 s vs 0.60 s at matched controls — the
      // materialization costs more than the ~60 B/doc projection's
      // second scan+tokenize saves), so it was reverted per the
      // measure-first rule. Revisit only with a measurement at a scale
      // where the text scan dominates the block-manager round trip.
      val t = docs(s, dir).select(col("source"), col("doc_id"),
          size(tokensCol).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("skey"))
        .withColumn("bucket", substring(col("skey"), 1, 2))
      val wIn = Window.partitionBy("source", "bucket")
        .orderBy(col("skey"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCum = t.withColumn("in_cum", sum("n_tokens").over(wIn))
      val wOff = Window.partitionBy("source").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = t.groupBy("source", "bucket")
        .agg(sum("n_tokens").as("btot"))
        .withColumn("boff", coalesce(sum("btot").over(wOff), lit(0L)))
        .select(col("source"), col("bucket"), col("boff"))
      // budgets vary by source (500..800) so the fixture trims unevenly
      val budget = lit(500L) +
        lit(100L) * (substring(col("source"), 4, 10).cast("long") % 4)
      withCum.join(broadcast(offsets), Seq("source", "bucket"))
        .withColumn("cum_before", col("boff") + col("in_cum") - col("n_tokens"))
        .filter(col("cum_before") < budget)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("cum_before"))
    }),

    // Data PROFILING (the quality report every warehouse engine ships:
    // per-column nulls / distincts / range). ONE aggregate computes all
    // columns' stats in a single table scan (multi-distinct via
    // Catalyst's expand — not one scan per column), then `stack`
    // unpivots to long form so a wide table never widens the output
    // schema. Hash-checked against per-column SQL aggregates.
    "table_profile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap(c => Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        round(round(min(col(c)), 9), 6).as(s"${c}__mn"),
        round(round(max(col(c)), 9), 6).as(s"${c}__mx"))) :+
        count(lit(1)).as("__n")
      val a = li.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', __n, ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx").mkString(", ")
      a.selectExpr(s"stack(${cols.length}, $stackArgs) as " +
        "(col_name, n_rows, n_nulls, n_distinct, min_v, max_v)")
    }),

    // table_profile's PRODUCTION variant: exact multi-column distinct
    // counts force Catalyst's Expand — every scan row is replicated
    // once per profiled column before the partial aggregate, and at
    // 100 TB that ×#columns row blow-up is the plan's dominant CPU
    // cost. The scale shape is HyperLogLog++ (`approx_count_distinct`,
    // rsd 2%): ONE pass, no Expand, constant-size mergeable sketches —
    // what warehouse profilers actually run. Nulls/min/max/count stay
    // exact; only n_distinct is approximate (gated within 5% of the
    // exact twin, plan asserted Expand-free, in LlmPipelineSpec).
    "table_profile_approx" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap(c => Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}__nn"),
        approx_count_distinct(col(c), 0.02).as(s"${c}__nd"),
        round(round(min(col(c)), 9), 6).as(s"${c}__mn"),
        round(round(max(col(c)), 9), 6).as(s"${c}__mx"))) :+
        count(lit(1)).as("__n")
      val a = li.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', __n, ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx").mkString(", ")
      a.selectExpr(s"stack(${cols.length}, $stackArgs) as " +
        "(col_name, n_rows, n_nulls, n_distinct, min_v, max_v)")
    }),

    // table_profile_approx's ORACLE-CHECKABLE twin: the same one-pass
    // stacked profile with the engine-specific HLL++ estimate replaced
    // by a DETERMINISTIC hash-bucket distinct estimator both engines
    // recompute bit-for-bit — count the distinct cent-quantized values
    // whose md5 lands in hex bucket '0' (1 of 16) and scale by 16, the
    // classic sample-by-hash-of-value cardinality estimator: bucket
    // membership depends only on the VALUE, never on row order, RNG,
    // or sketch internals, so Spark and DuckDB agree exactly. The
    // production HLL path keeps its within-5%-of-exact + Expand-free
    // plan gates in LlmPipelineSpec; this twin hash-checks the profile
    // SHAPE (stack pivot, null/min/max/count legs) and the estimator
    // plumbing end-to-end.
    "table_profile_approx_seeded" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // cent-quantize before hashing: double→string rendering differs
      // between engines, an integral BIGINT's rendering does not
      def cents(c: String) = round(col(c) * 100).cast("long")
      val aggs = cols.flatMap(c => Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}__nn"),
        (countDistinct(when(
          substring(md5(cents(c).cast("string")), 1, 1) === "0",
          cents(c))) * 16).as(s"${c}__nd"),
        round(round(min(col(c)), 9), 6).as(s"${c}__mn"),
        round(round(max(col(c)), 9), 6).as(s"${c}__mx"))) :+
        count(lit(1)).as("__n")
      val a = li.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', __n, ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx").mkString(", ")
      a.selectExpr(s"stack(${cols.length}, $stackArgs) as " +
        "(col_name, n_rows, n_nulls, n_distinct, min_v, max_v)")
    }),

    // Overlapping token CHUNKING (the RAG/embedding prep step: size 64,
    // stride 48 ⇒ 16-token overlap): per-doc chunk table with the
    // chunk's token span and content hash. Chunk count from INTEGER
    // arithmetic only ((n-64+47) div 48 + 1 — a float ceil could land
    // an ulp off); pure per-row explode, zero shuffle. Hash-checked.
    "text_chunk" -> ((s, dir) => chunkTokens(docs(s, dir))),

    // BM25 ranked retrieval (Robertson-Spärck Jones; k1=1.2, b=0.75)
    // for a FIXED 3-term query — the classic lexical-search scoring an
    // analytics engine owes its text side. Per-term tf via conditional
    // aggregation (one corpus groupBy), df/N/avgdl from tiny aggregates
    // broadcast back, and the 3 per-term partials are summed in FIXED
    // expression order (a groupBy sum over exploded terms would be
    // accumulation-order-dependent and hash-flaky). Top-20 by quantized
    // score. Hash-checked.
    "text_bm25" -> ((s, dir) => {
      val terms = Seq("the", "data", "model")
      val t = docs(s, dir).select(col("doc_id"), tokensCol.as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
      val tf = t.select(col("doc_id") +: col("dl") +: terms.map(w =>
        size(filter(col("toks"), tok => tok === w)).cast("long")
          .as(s"tf_$w")): _*)
      val aggs = count(lit(1)).cast("double").as("n_docs") +:
        sum(col("dl")).cast("double").as("sum_dl") +:
        terms.map(w => sum((col(s"tf_$w") > 0).cast("long"))
          .cast("double").as(s"df_$w"))
      val stats = tf.agg(aggs.head, aggs.tail: _*)
      val scored = tf.crossJoin(broadcast(stats))
      // constants written as the SAME literals on both engines (1.2+1
      // folded in Scala could land an ulp off SQL's 2.2)
      def part(w: String) = {
        val idf = log(lit(1.0) +
          (col("n_docs") - col(s"df_$w") + lit(0.5)) /
            (col(s"df_$w") + lit(0.5)))
        val tfw = col(s"tf_$w").cast("double")
        idf * (tfw * lit(2.2)) /
          (tfw + lit(1.2) * (lit(0.25) + lit(0.75) *
            col("dl").cast("double") / (col("sum_dl") / col("n_docs"))))
      }
      val withScore = scored.withColumn("score",
        round(part(terms(0)) + part(terms(1)) + part(terms(2)), 9))
        .filter(col("score") > 0)
      TopK.perGroupAgg(withScore, Seq.empty, col("score"), col("doc_id"),
          20, idName = "doc_id")
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          round(col("score"), 6).as("score"))
    }),

    // text_bm25 generalized to a QUERY TABLE — the production retrieval
    // shape: terms are DATA (a joined relation), not code, so the same
    // plan serves any query without recompilation. Tokens explode once
    // and hash-join the BROADCAST term list (the only corpus pass);
    // df/N/avgdl come from tiny broadcast aggregates. Per-term partials
    // are micro-quantized to LONGs before the per-doc sum, so the
    // groupBy total is exact in ANY accumulation order — the
    // order-dependence that forced text_bm25's fixed-expression sum
    // disappears, and the query stays DuckDB-hash-checkable. The fixed
    // 3-term text_bm25 remains as the independent hash-green twin.
    "text_bm25_query" -> ((s, dir) => {
      import s.implicits._
      val terms = Seq("the", "data", "model", "learning", "neural")
        .toDF("term")
      bm25(docs(s, dir), terms, k = 20)
    }),

    // The SAME BM25 question served FROM a persisted inverted index
    // (operators/InvertedIndex.scala) built the way months of ingest
    // build it — two monotone-id appends plus an at-least-once REPLAYED
    // append (skipped idempotently; a stale-watermark double-append
    // would be folded at read). The query's scan prunes to the terms'
    // postings buckets; corpus constants come from the additive _stats
    // sidecar; scoring is the shared bm25Rank tail — so this must be
    // HASH-IDENTICAL to text_bm25_query, which recomputes everything
    // from raw text. The parity IS the index-correctness oracle.
    "text_bm25_indexed" -> ((s, dir) => {
      import graft.operators.InvertedIndex
      val d = docs(s, dir)
      val idx = Fixtures.tempDir("graft_invidx_")
      val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2
      InvertedIndex.append(s, d.filter(col("doc_id") <= half), idx)
      InvertedIndex.append(s, d.filter(col("doc_id") > half), idx)
      InvertedIndex.append(s, d.filter(col("doc_id") > half), idx) // replay
      // background postings merge (one sorted file per bucket, replay
      // dups folded away) — serving must be unchanged post-compaction
      InvertedIndex.compactPostings(s, idx)
      InvertedIndex.bm25Query(s, idx, HybridTerms, k = 20)
    }),

    // The DELETION lifecycle of the same index (takedown / GDPR
    // shape): tranche 1 (doc_id % 13 = 0) is tombstoned, REPLAYED
    // idempotently, then physically erased by the postings merge;
    // tranche 2 (% 17) is tombstoned after the merge and served
    // through the live anti-join + constant-subtraction path. The
    // result must hash-equal BM25 recomputed from scratch over only
    // the surviving docs — corpus constants (n_docs, avgdl) shift
    // with every deletion, so the parity certifies the exact-constants
    // bookkeeping, not just the id filtering.
    "text_bm25_deleted" -> ((s, dir) => {
      import graft.operators.InvertedIndex
      val d = docs(s, dir)
      val idx = Fixtures.tempDir("graft_invidx_del_")
      val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2
      InvertedIndex.append(s, d.filter(col("doc_id") <= half), idx)
      InvertedIndex.append(s, d.filter(col("doc_id") > half), idx)
      val t1 = d.filter(col("doc_id") % 13 === 0).select("doc_id")
      InvertedIndex.deleteDocs(s, idx, t1)
      InvertedIndex.deleteDocs(s, idx, t1) // replayed takedown: no-op
      InvertedIndex.compactPostings(s, idx) // tranche 1 physically gone
      InvertedIndex.deleteDocs(s, idx,
        d.filter(col("doc_id") % 17 === 0).select("doc_id"))
      InvertedIndex.bm25Query(s, idx, HybridTerms, k = 20)
    }),

    // Serve-through-compaction on the LEXICAL face: a versioned
    // inverted index (graft.index.Generations) ingests two batches,
    // takes a tranche down, and compactVersioned publishes the folded
    // successor WITHOUT touching the live generation — a reader that
    // resolved the PRE-flip manifest keeps answering from the intact
    // grace generation. Both paths — the stale (grace) reader and the
    // post-flip live one — must hash-equal BM25 recomputed from
    // scratch over the survivors; the query asserts their row-for-row
    // equality and returns the grace reader's answer (the distinctive
    // path the in-place compaction cannot serve).
    "text_bm25_versioned" -> ((s, dir) => {
      import graft.operators.InvertedIndex
      val d = docs(s, dir)
      val root = Fixtures.tempDir("graft_invidx_vers_")
      val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2
      InvertedIndex.buildVersioned(s, d.filter(col("doc_id") <= half), root)
      InvertedIndex.appendVersioned(s, d.filter(col("doc_id") > half), root)
      InvertedIndex.deleteDocs(s, InvertedIndex.resolveVersioned(s, root),
        d.filter(col("doc_id") % 13 === 0).select("doc_id"))
      val pre = InvertedIndex.resolveVersioned(s, root) // gen0
      InvertedIndex.compactVersioned(s, root)           // gen1 published
      val stale = InvertedIndex.bm25Query(s, pre, HybridTerms, k = 20)
      val live = InvertedIndex.bm25QueryVersioned(s, root, HybridTerms,
        k = 20)
      val a = stale.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val b = live.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      require(a == b,
        "grace-generation BM25 diverged from the post-flip generation")
      // return the asserted rows as a local relation: the equality
      // check above already materialized BOTH serving plans; handing
      // back the lazy `stale` would run the grace generation's whole
      // serving query a third time when the caller evaluates it
      import s.implicits._
      a.toDF("rank", "doc_id", "score")
    }),

    // The UPDATE recipe, certified end-to-end: an index has no
    // in-place rewrite — a document REVISION is `delete old id +
    // append the new text under a fresh monotone id` (the posture
    // every log-structured store shares). Here tranche doc_id % 13
    // is revised to its text doubled ("text text"), the old ids are
    // tombstoned, the revisions append past the watermark, and the
    // merge erases the stale content. Serving must hash-equal BM25
    // recomputed from scratch over the post-update corpus — old ids
    // absent, revised ids present with doubled tf/dl, constants
    // shifted by both.
    "text_bm25_updated" -> ((s, dir) => {
      import graft.operators.InvertedIndex
      val d = docs(s, dir)
      val idx = Fixtures.tempDir("graft_invidx_upd_")
      InvertedIndex.append(s, d, idx)
      val off = d.agg(max(col("doc_id"))).first().getLong(0) + 1
      val old = d.filter(col("doc_id") % 13 === 0)
      InvertedIndex.deleteDocs(s, idx, old.select("doc_id"))
      InvertedIndex.append(s, old.select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")), idx)
      InvertedIndex.compactPostings(s, idx)
      InvertedIndex.bm25Query(s, idx, HybridTerms, k = 20)
    }),

    // Temperature-weighted mixture (the multilingual-LLM sampling rule,
    // e.g. mC4/XLM-R: p_i ∝ n_i^α with α<1 upweighting small sources):
    // per-source token counts → α=0.5 weights → expected token draw
    // from a fixed budget. One tiny aggregate + a window over the
    // #sources-row table — the planning report a mixing stage runs
    // before [[queries]]' mix_token_budget executes the draw.
    "mix_temperature" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 1000000L
      val per = docs(s, dir)
        .select(col("source"), size(tokensCol).cast("long").as("n_tokens"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"))
      // micro-quantized integer weights: the total is a LONG sum, exact
      // in any accumulation order — a float window total would be
      // engine-order-dependent and hash-flaky
      val w = Window.partitionBy()
      per.withColumn("wq",
          round(pow(col("n_tokens").cast("double"), 0.5) * 1e6, 0)
            .cast("long"))
        .withColumn("w_tot", sum("wq").over(w))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(round(col("wq").cast("double") / col("w_tot"), 9), 6)
            .as("weight"),
          floor(round(col("wq").cast("double") / col("w_tot"), 9) * budget)
            .cast("long").as("expected_tokens"))
    }),

    "sample_source_cap" -> ((s, dir) => {
      val keyed = docs(s, dir).select(col("source"), col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") * -1).as("negkey"))
      TopK.perGroupAgg(keyed, Seq(col("source")), col("negkey"),
          col("doc_id"), k = 10,
          rankCol = "keep_rank", idName = "doc_id", scoreName = "_score")
        .select(col("source"), col("keep_rank").cast("long").as("keep_rank"),
          col("doc_id"))
    })
  )

  private lazy val decontaminateOracle: String =
    s"""WITH sh AS ($trigramsSql),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
       |hits AS (
       |  SELECT s.doc_id, count(*) AS n_common
       |  FROM sh s JOIN ev USING (shingle)
       |  WHERE s.doc_id % 17 != 0
       |  GROUP BY s.doc_id)
       |SELECT d.doc_id, COALESCE(h.n_common, 0) AS n_common,
       |       CAST(COALESCE(h.n_common, 0) >= 3 AS BIGINT) AS is_contaminated
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id % 17 != 0""".stripMargin

  /** Shared CTE chain producing the two hybrid arms in DuckDB —
    * `lex(rank, doc_id, score)` (BM25 top-50 for [[HybridTerms]],
    * micro-quantized exactly like the Spark arm) and
    * `sem(rank, doc_id, score)` (hash-embedding sparse cosine top-50,
    * pico-quantized dot). Mirrors [[hybridArms]] term for term. */
  private lazy val hybridArmsSql: String = {
    val termList = HybridTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    val nibblePos =
      """CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 2
        |          + ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) & 1)
        |          AS BIGINT)""".stripMargin
    val nibbleSign =
      """CASE WHEN ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
        |               >> 1) & 1 = 1
        |             THEN 1.0 ELSE -1.0 END""".stripMargin
    s"""terms AS (SELECT unnest($termList) AS term),
       |t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |        unnest(toks) AS term FROM t),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM d JOIN terms USING (term)
       |  GROUP BY doc_id, dl, term),
       |st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |         CAST(sum(len(toks)) AS DOUBLE) AS sum_dl
       |  FROM t),
       |idf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
       |        FROM tf GROUP BY term),
       |bsc AS (
       |  SELECT doc_id,
       |         CAST(round(round(
       |             ln(1.0 + (n_docs - idf.df + 0.5) / (idf.df + 0.5))
       |             * (CAST(tf AS DOUBLE) * 2.2)
       |             / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |                 * CAST(dl AS DOUBLE) / (sum_dl / n_docs))), 9)
       |           * 1e6, 0) AS BIGINT) AS micro
       |  FROM tf JOIN idf USING (term) CROSS JOIN st),
       |bagg AS (
       |  SELECT doc_id,
       |         round(CAST(sum(micro) AS DOUBLE) / 1e6, 6) AS score
       |  FROM bsc GROUP BY doc_id),
       |lex AS (SELECT rank, doc_id, score FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
       |           AS BIGINT) AS rank, doc_id, score
       |  FROM bagg WHERE score > 0) r WHERE rank <= 50),
       |dh AS (SELECT doc_id, md5(tok) AS h
       |       FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
       |dcontrib AS (SELECT doc_id, $nibblePos AS pos, $nibbleSign AS c
       |             FROM dh),
       |dsums AS (SELECT doc_id, pos, sum(c) AS v FROM dcontrib
       |          GROUP BY doc_id, pos),
       |dnz AS (SELECT * FROM dsums WHERE v <> 0),
       |dn AS (SELECT doc_id, sqrt(sum(v * v)) AS norm FROM dnz
       |       GROUP BY doc_id),
       |dvec AS (SELECT dnz.doc_id, dnz.pos,
       |           round(round(dnz.v / dn.norm, 9), 6) AS val
       |         FROM dnz JOIN dn USING (doc_id)),
       |qh AS (SELECT md5(term) AS h FROM terms),
       |qcontrib AS (SELECT $nibblePos AS pos, $nibbleSign AS c FROM qh),
       |qsums AS (SELECT pos, sum(c) AS v FROM qcontrib GROUP BY pos),
       |qnz AS (SELECT * FROM qsums WHERE v <> 0),
       |qn AS (SELECT sqrt(sum(v * v)) AS norm FROM qnz),
       |qvec AS (SELECT pos, round(round(v / (SELECT norm FROM qn), 9), 6)
       |           AS val FROM qnz),
       |dots AS (
       |  SELECT dvec.doc_id,
       |         sum(CAST(round(dvec.val * 1e6, 0) AS BIGINT)
       |           * CAST(round(qvec.val * 1e6, 0) AS BIGINT)) AS pico
       |  FROM dvec JOIN qvec USING (pos) GROUP BY dvec.doc_id),
       |sem AS (SELECT rank, doc_id, score FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
       |           AS BIGINT) AS rank, doc_id, score
       |  FROM (SELECT doc_id, round(CAST(pico AS DOUBLE) / 1e12, 6)
       |          AS score FROM dots) x) r WHERE rank <= 50)""".stripMargin
  }

  private lazy val hybridRrfOracle: String =
    s"""WITH $hybridArmsSql,
       |fused AS (
       |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |         COALESCE(l.rank, 0) AS lex_rank,
       |         COALESCE(s.rank, 0) AS sem_rank,
       |         round(CASE WHEN l.rank IS NULL THEN 0.0
       |                    ELSE 1.0 / (60 + l.rank) END
       |             + CASE WHEN s.rank IS NULL THEN 0.0
       |                    ELSE 1.0 / (60 + s.rank) END, 6) AS score
       |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
       |SELECT rank, doc_id, score, lex_rank, sem_rank FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
       |           AS BIGINT) AS rank,
       |         doc_id, score, lex_rank, sem_rank
       |  FROM fused) r
       |WHERE rank <= 20""".stripMargin

  private lazy val hybridWeightedOracle: String =
    s"""WITH $hybridArmsSql,
       |lstat AS (SELECT min(score) AS mn, max(score) AS mx FROM lex),
       |lnorm AS (
       |  SELECT doc_id,
       |         CASE WHEN mx = mn THEN 1.0
       |              ELSE round((score - mn) / (mx - mn), 9) END AS lex_norm
       |  FROM lex CROSS JOIN lstat),
       |sstat AS (SELECT min(score) AS mn, max(score) AS mx FROM sem),
       |snorm AS (
       |  SELECT doc_id,
       |         CASE WHEN mx = mn THEN 1.0
       |              ELSE round((score - mn) / (mx - mn), 9) END AS sem_norm
       |  FROM sem CROSS JOIN sstat),
       |fused AS (
       |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |         round(round(COALESCE(l.lex_norm, 0.0) * 0.5
       |             + COALESCE(s.sem_norm, 0.0) * 0.5, 9), 6) AS score,
       |         round(COALESCE(l.lex_norm, 0.0), 6) AS lex_norm,
       |         round(COALESCE(s.sem_norm, 0.0), 6) AS sem_norm
       |  FROM lnorm l FULL OUTER JOIN snorm s ON l.doc_id = s.doc_id)
       |SELECT rank, doc_id, score, lex_norm, sem_norm FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
       |           AS BIGINT) AS rank,
       |         doc_id, score, lex_norm, sem_norm
       |  FROM fused) r
       |WHERE rank <= 20""".stripMargin

  /** Shared by text_bm25_query and its index-served twin
    * text_bm25_indexed (same terms, same k, same corpus => identical
    * expected result). */
  private lazy val bm25QueryOracle: String = bm25QueryOracleOver("documents")

  /** text_bm25_deleted's oracle: BM25 recomputed from scratch over
    * ONLY the surviving docs — the index must serve this exactly after
    * tombstoning the two takedown tranches (constants shift with the
    * deletion, so a stale-n_docs implementation hash-misses even where
    * the ranked ids happen to agree). */
  private lazy val bm25DeletedOracle: String = bm25QueryOracleOver(
    "documents WHERE doc_id % 13 <> 0 AND doc_id % 17 <> 0")

  /** text_bm25_versioned's oracle: BM25 from scratch over the
    * survivors of the single takedown tranche — served identically by
    * the grace generation (mask semantics) and the post-flip
    * generation (content erased); the query itself asserts the two
    * paths agree. */
  private lazy val bm25VersionedOracle: String = bm25QueryOracleOver(
    "documents WHERE doc_id % 13 <> 0")

  /** text_bm25_updated's oracle: BM25 from scratch over the
    * POST-UPDATE corpus — survivors verbatim, the revised tranche
    * under offset ids with doubled text. */
  private lazy val bm25UpdatedOracle: String = bm25QueryOracleOver(
    """(SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
      | UNION ALL
      | SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
      |        text || ' ' || text
      | FROM documents WHERE doc_id % 13 = 0) u""".stripMargin)

  private def bm25QueryOracleOver(corpus: String): String =
        s"""WITH terms AS (
           |  SELECT unnest(['the', 'data', 'model', 'learning', 'neural'])
           |    AS term),
           |t AS (SELECT doc_id, $tokensSql AS toks FROM $corpus),
           |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |        unnest(toks) AS term FROM t),
           |tf AS (
           |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM d JOIN terms USING (term)
           |  GROUP BY doc_id, dl, term),
           |st AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |         CAST(sum(len(toks)) AS DOUBLE) AS sum_dl
           |  FROM t),
           |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
           |       FROM tf GROUP BY term),
           |sc AS (
           |  SELECT doc_id,
           |         CAST(round(round(
           |             ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5))
           |             * (CAST(tf AS DOUBLE) * 2.2)
           |             / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
           |                 * CAST(dl AS DOUBLE) / (sum_dl / n_docs))), 9)
           |           * 1e6, 0) AS BIGINT) AS micro
           |  FROM tf JOIN df USING (term) CROSS JOIN st),
           |agg AS (
           |  SELECT doc_id,
           |         round(CAST(sum(micro) AS DOUBLE) / 1e6, 6) AS score
           |  FROM sc GROUP BY doc_id)
           |SELECT rank, doc_id, score FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
           |           AS BIGINT) AS rank,
           |         doc_id, score
           |  FROM agg WHERE score > 0) r
           |WHERE rank <= 20""".stripMargin

  def oracles: Map[String, String] = {
    val voteSql = (0 until 16).map { b =>
      val d = b / 4 + 1
      val sh = 3 - (b % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, $d, 1)) - 1) >> $sh) & 1 = 1 THEN tf ELSE -tf END) AS v$b"
    }.mkString(",\n|         ")
    val simhashSql = (0 until 16).map(b =>
      s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val sigExprs = (1 to NumHashes).map(r =>
      s"min(substr(md5(shingle), ${(r - 1) * 4 + 1}, 4)) AS sig$r")
      .mkString(",\n|         ")
    val bandSelects = (0 until NumBands).map { b =>
      val parts = (1 to RowsPerBand).map(r => s"sig${b * RowsPerBand + r}").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS key FROM sigs"
    }.mkString("\n|  UNION ALL\n|  ")
    def incrementalOracleSqlOver(docFilter: String) =
      s"""WITH sh AS (
         |  SELECT * FROM ($trigramsSql) tri $docFilter),
         |sigs AS (
         |  SELECT doc_id,
         |         $sigExprs
         |  FROM sh GROUP BY doc_id),
         |banded AS (
         |  $bandSelects)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared_bands
         |FROM banded x JOIN banded y ON x.band = y.band AND x.key = y.key
         |WHERE x.doc_id < y.doc_id AND (x.doc_id % 4 = 0 OR y.doc_id % 4 = 0)
         |GROUP BY x.doc_id, y.doc_id""".stripMargin
    val incrementalOracleSql = incrementalOracleSqlOver("")
    // the survivors after the two takedown tranches: a deleted doc
    // contributes to NO pair, exactly as if it had never been indexed
    val incrementalDeletedOracleSql = incrementalOracleSqlOver(
      "WHERE NOT (doc_id % 4 <> 0 AND (doc_id % 9 = 0 OR doc_id % 11 = 0))")
    Map(
      "dedup_exact" ->
        """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
          |count(*) AS n_copies FROM documents GROUP BY md5(text)""".stripMargin,
      "text_pii_redact" ->
        s"""WITH planted AS ($plantPiiSql)
           |SELECT doc_id,
           |       len(regexp_extract_all(text, '$EmailRe')) AS n_email,
           |       len(regexp_extract_all(text, '$UrlRe')) AS n_url,
           |       len(regexp_extract_all(text, '$PhoneRe')) AS n_phone,
           |       regexp_replace(regexp_replace(regexp_replace(text,
           |         '$EmailRe', '<EMAIL>', 'g'),
           |         '$UrlRe', '<URL>', 'g'),
           |         '$PhoneRe', '<PHONE>', 'g') AS redacted
           |FROM planted""".stripMargin,
      "text_vocab_topk" ->
        s"""WITH tf AS (
           |  SELECT lang, unnest($tokensSql) AS token FROM documents),
           |counts AS (
           |  SELECT lang, token, count(*) AS tf FROM tf GROUP BY lang, token)
           |SELECT lang, token, tf,
           |       row_number() OVER (PARTITION BY lang
           |         ORDER BY tf DESC, token ASC) AS rank
           |FROM counts QUALIFY rank <= 10""".stripMargin,
      "text_oov_rate" ->
        s"""WITH tok AS (
           |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
           |counts AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
           |vocab AS (SELECT token FROM counts
           |          ORDER BY tf DESC, token ASC LIMIT 500),
           |inv AS (SELECT doc_id, count(*) AS n_in
           |        FROM tok JOIN vocab USING (token) GROUP BY doc_id),
           |d AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens
           |      FROM documents)
           |SELECT d.doc_id, d.n_tokens,
           |       round(round(CAST(d.n_tokens - COALESCE(inv.n_in, 0) AS DOUBLE)
           |             / d.n_tokens, 9), 6) AS oov_rate
           |FROM d LEFT JOIN inv ON inv.doc_id = d.doc_id""".stripMargin,
      "text_perplexity" ->
        s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
           |bi AS (SELECT doc_id, unnest(list_transform(
           |         range(greatest(len(toks) - 1, 0)),
           |         i -> struct_pack(w1 := toks[i + 1], w2 := toks[i + 2]))) AS bg
           |       FROM t),
           |b AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bi),
           |tf AS (SELECT doc_id, w1, w2, count(*) AS tf
           |       FROM b GROUP BY doc_id, w1, w2),
           |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
           |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
           |v AS (SELECT count(DISTINCT token) AS v
           |      FROM (SELECT unnest($tokensSql) AS token FROM documents)),
           |scored AS (
           |  SELECT tf.doc_id, tf.tf,
           |         round(ln(CAST(c2.c12 + 1 AS DOUBLE) / (c1.c1 + v.v)), 9) AS lp
           |  FROM tf JOIN c2 ON tf.w1 = c2.w1 AND tf.w2 = c2.w2
           |          JOIN c1 ON tf.w1 = c1.w1 CROSS JOIN v),
           |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           |               sum(tf * lp) AS s
           |        FROM scored GROUP BY doc_id)
           |SELECT doc_id, n_bigrams,
           |       round(round(-s / n_bigrams, 9), 6) AS xent,
           |       round(round(exp(round(-s / n_bigrams, 9)), 9), 6) AS ppl
           |FROM agg""".stripMargin,
      "text_normalize" ->
        """SELECT doc_id, length(text) AS n_chars_raw,
          |       trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
          |       length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_chars_norm
          |FROM documents""".stripMargin,
      "doc_fingerprint" ->
        """SELECT doc_id, md5(trim(regexp_replace(
          |  regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
          |  ' +', ' ', 'g'))) AS fingerprint FROM documents""".stripMargin,
      "text_tokens" ->
        s"""SELECT doc_id, len(toks) AS n_tokens,
           |len(list_distinct(toks)) AS n_uniq_tokens,
           |round(round(list_sum(list_transform(toks, t -> CAST(len(t) AS DOUBLE))) / len(toks), 9), 6) AS mean_token_len
           |FROM (SELECT doc_id, $tokensSql AS toks FROM documents)""".stripMargin,
      "text_quality" ->
        s"""SELECT doc_id, len(text) AS n_chars, len(toks) AS n_tokens,
           |round(round(CAST(len(list_filter(toks, t -> t IN $StopSqlList)) AS DOUBLE) / len(toks), 9), 6) AS stop_frac
           |FROM (SELECT doc_id, text, $tokensSql AS toks FROM documents)""".stripMargin,
      "text_langid" ->
        s"""WITH t AS (SELECT doc_id, lang, $tokensSql AS toks FROM documents),
           |c AS (SELECT doc_id, lang,
           |  len(list_filter(toks, t -> t IN ('the', 'and', 'of', 'is'))) AS c_en,
           |  len(list_filter(toks, t -> t IN ('le', 'la', 'et', 'les'))) AS c_fr,
           |  len(list_filter(toks, t -> t IN ('der', 'die', 'und', 'das'))) AS c_de,
           |  len(list_filter(toks, t -> t IN ('el', 'los', 'y', 'que'))) AS c_es
           |  FROM t)
           |SELECT doc_id, lang,
           |  CASE WHEN c_en + c_fr + c_de + c_es = 0 THEN 'unk'
           |       WHEN c_en >= c_fr AND c_en >= c_de AND c_en >= c_es THEN 'en'
           |       WHEN c_fr >= c_de AND c_fr >= c_es THEN 'fr'
           |       WHEN c_de >= c_es THEN 'de'
           |       ELSE 'es' END AS pred_lang
           |FROM c""".stripMargin,
      "text_tfidf" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(toks) AS term
           |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents)),
           |n AS (SELECT count(*) AS n FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |       WHERE doc_id < 20 GROUP BY doc_id, term),
           |df AS (SELECT term, count(*) AS df
           |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id, tf.term,
           |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 9) AS tfidf
           |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
           |ranked AS (
           |  SELECT doc_id, term, tfidf,
           |         row_number() OVER (PARTITION BY doc_id
           |           ORDER BY tfidf DESC, term ASC) AS rank
           |  FROM scored)
           |SELECT doc_id, rank, term, round(tfidf, 6) AS tfidf
           |FROM ranked WHERE rank <= 3""".stripMargin,
      "dedup_ngram_jaccard" ->
        s"""WITH sh AS ($trigramsSql),
           |sh40 AS (SELECT * FROM sh WHERE doc_id < 40),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh40 GROUP BY doc_id),
           |inter AS (
           |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
           |  FROM sh40 x JOIN sh40 y ON x.shingle = y.shingle
           |  WHERE x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id)
           |SELECT doc_a, doc_b,
           |       round(round(CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common), 9), 6) AS jaccard
           |FROM inter
           |JOIN sizes a ON a.doc_id = doc_a
           |JOIN sizes b ON b.doc_id = doc_b
           |ORDER BY round(CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common), 9) DESC,
           |         doc_a ASC, doc_b ASC
           |LIMIT 10""".stripMargin,
      "text_tokens_bpe" ->
        """SELECT doc_id,
          |len(list_filter(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+'),
          |  x -> len(trim(x)) > 0)) AS n_bpe_tokens
          |FROM documents""".stripMargin,
      "dedup_simhash" ->
        s"""WITH tf AS (
           |  SELECT doc_id, term, count(*) AS tf, md5(term) AS h
           |  FROM (SELECT doc_id, unnest(toks) AS term
           |        FROM (SELECT doc_id, $tokensSql AS toks FROM documents))
           |  GROUP BY doc_id, term),
           |sums AS (
           |  SELECT doc_id,
           |         $voteSql
           |  FROM tf GROUP BY doc_id)
           |SELECT doc_id, $simhashSql AS simhash FROM sums""".stripMargin,
      "dedup_minhash_sig" ->
        s"""WITH sh AS ($trigramsSql)
           |SELECT doc_id,
           |         $sigExprs
           |FROM sh WHERE doc_id < 50 GROUP BY doc_id""".stripMargin,
      "dedup_minhash_pairs" ->
        s"""WITH sh AS ($trigramsSql),
           |sigs AS (
           |  SELECT doc_id,
           |         $sigExprs
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects)
           |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared_bands
           |FROM banded x JOIN banded y ON x.band = y.band AND x.key = y.key
           |WHERE x.doc_id < y.doc_id
           |GROUP BY x.doc_id, y.doc_id""".stripMargin,
      // Skew cap: pairs only from buckets of <= MaxBucket docs; the
      // over-cap buckets go to the hot-bucket report instead.
      "dedup_minhash_capped" ->
        s"""WITH sh AS ($trigramsSql),
           |sigs AS (
           |  SELECT doc_id,
           |         $sigExprs
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |ok AS (
           |  SELECT band, key FROM banded GROUP BY band, key
           |  HAVING count(*) <= $MaxBucket)
           |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared_bands
           |FROM banded x JOIN ok USING (band, key)
           |     JOIN banded y ON x.band = y.band AND x.key = y.key
           |WHERE x.doc_id < y.doc_id
           |GROUP BY x.doc_id, y.doc_id""".stripMargin,
      "dedup_lsh_hot_buckets" ->
        s"""WITH sh AS ($trigramsSql),
           |sigs AS (
           |  SELECT doc_id,
           |         $sigExprs
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects)
           |SELECT CAST(band AS BIGINT) AS band, key,
           |       count(*) AS n_docs
           |FROM banded GROUP BY band, key
           |HAVING count(*) > $MaxBucket""".stripMargin,
      // The incremental path must add EXACTLY the union-corpus pairs
      // that touch the batch — so the oracle is the full-corpus banded
      // self-join restricted to pairs with a batch endpoint. The
      // COMPACTED twin shares it verbatim: compaction is
      // answer-preserving by contract, so the probe after append +
      // replay + compact must produce the same pair set.
      "dedup_incremental" -> incrementalOracleSql,
      "dedup_incremental_compacted" -> incrementalOracleSql,
      "dedup_incremental_deleted" -> incrementalDeletedOracleSql,
      // Same pair set as dedup_minhash_pairs, then components via a
      // recursive transitive-closure CTE (UNION dedupes, so cycles
      // terminate) labeled with the component minimum — the min-id
      // keep-rule the Spark operator implements with large/small-star.
      "dedup_clusters" ->
        s"""WITH RECURSIVE sh AS ($trigramsSql),
           |sigs AS (
           |  SELECT doc_id,
           |         $sigExprs
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |pairs AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y ON x.band = y.band AND x.key = y.key
           |  WHERE x.doc_id < y.doc_id
           |  GROUP BY x.doc_id, y.doc_id),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |labels AS (
           |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
           |  FROM reach GROUP BY u)
           |SELECT d.doc_id,
           |       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           |       CAST(COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS BIGINT) AS is_canonical
           |FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id""".stripMargin,
      "dedup_clusters_quality" ->
        s"""WITH RECURSIVE sh AS ($trigramsSql),
           |sigs AS (
           |  SELECT doc_id,
           |         $sigExprs
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |pairs AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y ON x.band = y.band AND x.key = y.key
           |  WHERE x.doc_id < y.doc_id
           |  GROUP BY x.doc_id, y.doc_id),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |labels AS (
           |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
           |  FROM reach GROUP BY u),
           |docsq AS (
           |  SELECT d.doc_id, CAST(length(d.text) AS DOUBLE) AS quality,
           |         COALESCE(l.cluster_id, d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
           |SELECT doc_id, cluster_id,
           |       CAST(row_number() OVER (PARTITION BY cluster_id
           |              ORDER BY quality DESC, doc_id ASC) = 1 AS BIGINT) AS is_canonical
           |FROM docsq""".stripMargin,
      "decontaminate" -> decontaminateOracle,
      // the Bloom twin is exact by construction (no false negatives +
      // exact verify of candidates): same oracle
      "decontaminate_bloom" -> decontaminateOracle,
      "pack_sequences" ->
        s"""WITH t AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens
           |           FROM documents),
           |c AS (SELECT doc_id, n_tokens,
           |             sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM t)
           |SELECT doc_id, n_tokens,
           |       CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id
           |FROM c""".stripMargin,
      "mix_token_budget" ->
        s"""WITH t AS (SELECT source, doc_id,
           |             CAST(len($tokensSql) AS BIGINT) AS n_tokens,
           |             md5(CAST(doc_id AS VARCHAR)) AS skey
           |           FROM documents),
           |c AS (SELECT source, doc_id, n_tokens,
           |        CAST(sum(n_tokens) OVER (PARTITION BY source
           |          ORDER BY skey, doc_id) - n_tokens AS BIGINT) AS cum_before
           |      FROM t)
           |SELECT source, doc_id, n_tokens, cum_before FROM c
           |WHERE cum_before <
           |  500 + 100 * (CAST(substr(source, 4, 10) AS BIGINT) % 4)""".stripMargin,
      "shuffle_order" ->
        """SELECT doc_id,
          |CAST(row_number() OVER (
          |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
          |  AS shuffle_rank
          |FROM documents""".stripMargin,
      "sample_stratified" ->
        """SELECT doc_id, lang FROM documents
          |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          |  CASE lang WHEN 'en' THEN '40000000'
          |            WHEN 'zh' THEN 'c0000000'
          |            ELSE '80000000' END""".stripMargin,
      "text_repetition" ->
        s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
           |g AS (SELECT doc_id, toks,
           |  list_transform(range(greatest(len(toks) - 1, 0)),
           |    i -> toks[i + 1] || ' ' || toks[i + 2]) AS bg,
           |  list_transform(range(greatest(len(toks) - 2, 0)),
           |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]) AS tg
           |  FROM t)
           |SELECT doc_id,
           |  round(round(CASE WHEN len(toks) > 0
           |    THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           |    ELSE 0.0 END, 9), 6) AS dup_token_frac,
           |  round(round(CASE WHEN len(tg) > 0
           |    THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
           |    ELSE 0.0 END, 9), 6) AS dup_trigram_frac,
           |  round(round(CASE WHEN len(bg) > 0
           |    THEN CAST(list_max(list_transform(list_distinct(bg),
           |      b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE) / len(bg)
           |    ELSE 0.0 END, 9), 6) AS top_bigram_frac
           |FROM g""".stripMargin,
      "text_dup_spans" ->
        s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
           |gr AS (SELECT doc_id, unnest(list_transform(
           |        range(greatest(len(toks) - 7, 0)),
           |        i -> md5(toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]
           |          || ' ' || toks[i + 4] || ' ' || toks[i + 5] || ' ' || toks[i + 6]
           |          || ' ' || toks[i + 7] || ' ' || toks[i + 8]))) AS g
           |      FROM t),
           |dc AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM gr GROUP BY g),
           |pd AS (SELECT doc_id, count(*) AS n_spans,
           |         sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
           |       FROM gr JOIN dc USING (g) GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(pd.n_spans, 0) AS n_spans,
           |       CAST(COALESCE(pd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
           |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin,
      "table_profile" -> {
        def prof(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  round(round(min($c), 9), 6) AS min_v,
             |  round(round(max($c), 9), 6) AS max_v
             |FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(prof).mkString("\nUNION ALL\n")
      },
      "table_profile_approx_seeded" -> {
        def prof(c: String) = {
          val cents = s"CAST(round($c * 100) AS BIGINT)"
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  CAST(16 * count(DISTINCT CASE WHEN
             |      substring(md5(CAST($cents AS VARCHAR)), 1, 1) = '0'
             |    THEN $cents END) AS BIGINT) AS n_distinct,
             |  round(round(min($c), 9), 6) AS min_v,
             |  round(round(max($c), 9), 6) AS max_v
             |FROM lineitem""".stripMargin
        }
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(prof).mkString("\nUNION ALL\n")
      },
      "text_chunk" ->
        s"""WITH t AS (
           |  SELECT doc_id, $tokensSql AS toks FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
           |      FROM t WHERE len(toks) > 0),
           |c AS (SELECT doc_id, toks, n_tokens,
           |        CASE WHEN n_tokens <= 64 THEN 1
           |             ELSE (n_tokens - 64 + 47) // 48 + 1 END AS n_chunks
           |      FROM n),
           |e AS (SELECT doc_id, toks, n_tokens,
           |        unnest(range(n_chunks)) AS chunk_idx
           |      FROM c)
           |SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
           |       least(64, n_tokens - chunk_idx * 48) AS n_toks,
           |       md5(array_to_string(
           |         toks[chunk_idx * 48 + 1 :
           |              chunk_idx * 48 + least(64, n_tokens - chunk_idx * 48)],
           |         ' ')) AS chunk_hash
           |FROM e""".stripMargin,
      "text_bm25" -> {
        def partSql(w: String) =
          s"""ln(1.0 + (n_docs - df_$w + 0.5) / (df_$w + 0.5))
             |  * (CAST(tf_$w AS DOUBLE) * 2.2)
             |  / (CAST(tf_$w AS DOUBLE) + 1.2 * (0.25 + 0.75
             |      * CAST(dl AS DOUBLE) / (sum_dl / n_docs)))""".stripMargin
        s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
           |tf AS (
           |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |         CAST(len(list_filter(toks, x -> x = 'the')) AS BIGINT) AS tf_the,
           |         CAST(len(list_filter(toks, x -> x = 'data')) AS BIGINT) AS tf_data,
           |         CAST(len(list_filter(toks, x -> x = 'model')) AS BIGINT) AS tf_model
           |  FROM t),
           |st AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |         CAST(sum(dl) AS DOUBLE) AS sum_dl,
           |         CAST(sum(CASE WHEN tf_the > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_the,
           |         CAST(sum(CASE WHEN tf_data > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_data,
           |         CAST(sum(CASE WHEN tf_model > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_model
           |  FROM tf),
           |sc AS (
           |  SELECT doc_id,
           |         round(${partSql("the")}
           |           + ${partSql("data")}
           |           + ${partSql("model")}, 9) AS score
           |  FROM tf CROSS JOIN st)
           |SELECT rank, doc_id, round(score, 6) AS score FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
           |           AS BIGINT) AS rank,
           |         doc_id, score
           |  FROM sc WHERE score > 0) r
           |WHERE rank <= 20""".stripMargin
      },
      "text_bm25_query" -> bm25QueryOracle,
      "text_bm25_indexed" -> bm25QueryOracle,
      "text_bm25_deleted" -> bm25DeletedOracle,
      "text_bm25_updated" -> bm25UpdatedOracle,
      "text_bm25_versioned" -> bm25VersionedOracle,
      "mix_temperature" ->
        s"""WITH per AS (
           |  SELECT source, count(*) AS n_docs,
           |         CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source),
           |wts AS (
           |  SELECT source, n_docs, n_tokens,
           |         CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.5) * 1e6, 0)
           |           AS BIGINT) AS wq
           |  FROM per),
           |tot AS (SELECT source, n_docs, n_tokens, wq,
           |          sum(wq) OVER () AS w_tot FROM wts)
           |SELECT source, n_docs, n_tokens,
           |       round(round(CAST(wq AS DOUBLE) / w_tot, 9), 6) AS weight,
           |       CAST(floor(round(CAST(wq AS DOUBLE) / w_tot, 9) * 1000000)
           |         AS BIGINT) AS expected_tokens
           |FROM tot""".stripMargin,
      "hybrid_rrf" -> hybridRrfOracle,
      "hybrid_weighted" -> hybridWeightedOracle,
      "doc_embed_hash" ->
        s"""WITH t AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
           |h AS (SELECT doc_id, md5(tok) AS h FROM t),
           |c AS (SELECT doc_id,
           |        CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 2
           |          + ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) & 1)
           |          AS BIGINT) AS pos,
           |        CASE WHEN ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
           |               >> 1) & 1 = 1
           |             THEN 1.0 ELSE -1.0 END AS c
           |      FROM h),
           |sums AS (SELECT doc_id, pos, sum(c) AS v FROM c GROUP BY doc_id, pos),
           |nz AS (SELECT * FROM sums WHERE v <> 0),
           |n AS (SELECT doc_id, sqrt(sum(v * v)) AS norm FROM nz GROUP BY doc_id)
           |SELECT nz.doc_id, nz.pos,
           |       round(round(nz.v / n.norm, 9), 6) AS val
           |FROM nz JOIN n USING (doc_id)""".stripMargin,
      "text_gopher_rules" ->
        s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents),
           |sig AS (
           |  SELECT doc_id,
           |         CAST(len(toks) AS BIGINT) AS n_words,
           |         CASE WHEN len(toks) = 0 THEN 0.0
           |              ELSE round(CAST(list_sum(list_transform(toks,
           |                t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
           |                / len(toks), 9) END AS mean_word_len,
           |         CASE WHEN len(toks) = 0 THEN 0.0
           |              ELSE round(CAST(len(list_filter(toks,
           |                t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |                / len(toks), 9) END AS alpha_frac,
           |         CASE WHEN len(toks) = 0 THEN 0.0
           |              ELSE round(CAST(len(regexp_extract_all(text, '#'))
           |                + len(regexp_extract_all(text, '\\.\\.\\.'))
           |                AS DOUBLE) / len(toks), 9) END AS symbol_ratio,
           |         CAST(len(list_filter(toks, t -> t IN $StopSqlList))
           |           AS BIGINT) AS stop_hits
           |  FROM t)
           |SELECT doc_id, n_words,
           |       round(mean_word_len, 6) AS mean_word_len,
           |       round(alpha_frac, 6) AS alpha_frac,
           |       round(symbol_ratio, 6) AS symbol_ratio,
           |       stop_hits,
           |       CAST(n_words >= 50 AND n_words <= 100000
           |         AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
           |         AND symbol_ratio < 0.1 AND alpha_frac > 0.8
           |         AND stop_hits >= 2 AS BIGINT) AS keep
           |FROM sig""".stripMargin,
      "text_dup_span_strip" ->
        s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
           |gr AS (SELECT doc_id, unnest(range(greatest(len(toks) - 7, 0))) AS s,
           |              toks FROM t),
           |gh AS (SELECT doc_id, s,
           |         md5(toks[s + 1] || ' ' || toks[s + 2] || ' ' || toks[s + 3]
           |           || ' ' || toks[s + 4] || ' ' || toks[s + 5] || ' ' || toks[s + 6]
           |           || ' ' || toks[s + 7] || ' ' || toks[s + 8]) AS g
           |       FROM gr),
           |dc AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM gh GROUP BY g),
           |iv AS (SELECT doc_id, s, s + 8 AS e
           |       FROM gh JOIN dc USING (g) WHERE n_docs >= 2),
           |m AS (SELECT doc_id, s, e,
           |        max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           |      FROM iv),
           |fl AS (SELECT doc_id, s, e,
           |         CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
           |           AS new_island
           |       FROM m),
           |isl AS (SELECT doc_id, s, e,
           |          sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |        FROM fl),
           |pi AS (SELECT doc_id, island, max(e) - min(s) AS covered
           |       FROM isl GROUP BY doc_id, island),
           |pd AS (SELECT doc_id, count(*) AS n_dup_regions,
           |         CAST(sum(covered) AS BIGINT) AS dup_tokens
           |       FROM pi GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           |       COALESCE(pd.n_dup_regions, 0) AS n_dup_regions,
           |       COALESCE(pd.dup_tokens, 0) AS dup_tokens,
           |       CAST(len(t.toks) AS BIGINT) - COALESCE(pd.dup_tokens, 0)
           |         AS kept_tokens
           |FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id""".stripMargin,
      "split_assign" ->
        """SELECT doc_id,
          |CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f0000000'
          |       THEN 'train'
          |     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f8000000'
          |       THEN 'val'
          |     ELSE 'test' END AS split
          |FROM documents""".stripMargin,
      "pipeline_curate" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, lang, $tokensSql AS toks
           |                     FROM documents),
           |b AS (SELECT doc_id, lang,
           |        CAST(len(toks) AS BIGINT) AS n_tokens,
           |        list_distinct(list_transform(range(greatest(len(toks) - 2, 0)),
           |          i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS tg
           |      FROM t),
           |train AS (SELECT * FROM b WHERE n_tokens >= 20 AND doc_id % 17 != 0),
           |sh AS (SELECT doc_id, unnest(tg) AS shingle FROM train),
           |sigs AS (
           |  SELECT doc_id,
           |         $sigExprs
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |pairs AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y ON x.band = y.band AND x.key = y.key
           |  WHERE x.doc_id < y.doc_id
           |  GROUP BY x.doc_id, y.doc_id),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
           |reach AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |labels AS (
           |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
           |  FROM reach GROUP BY u),
           |surv AS (
           |  SELECT tr.doc_id FROM train tr
           |  LEFT JOIN labels l ON l.doc_id = tr.doc_id
           |  WHERE COALESCE(l.cluster_id, tr.doc_id) = tr.doc_id),
           |evalsh AS (SELECT DISTINCT unnest(tg) AS shingle FROM b
           |           WHERE doc_id % 17 = 0),
           |hits AS (
           |  SELECT s.doc_id, count(*) AS n_common
           |  FROM (SELECT doc_id, unnest(tg) AS shingle FROM train
           |        WHERE doc_id IN (SELECT doc_id FROM surv)) s
           |  JOIN evalsh USING (shingle)
           |  GROUP BY s.doc_id),
           |clean AS (
           |  SELECT tr.doc_id, tr.lang, tr.n_tokens
           |  FROM train tr JOIN surv USING (doc_id)
           |  LEFT JOIN hits h ON h.doc_id = tr.doc_id
           |  WHERE COALESCE(h.n_common, 0) < 3),
           |sampled AS (
           |  SELECT * FROM clean
           |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
           |    CASE lang WHEN 'en' THEN '40000000'
           |              WHEN 'zh' THEN 'c0000000'
           |              ELSE '80000000' END)
           |SELECT doc_id, lang, n_tokens,
           |       CAST((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 512
           |            AS BIGINT) AS seq_id
           |FROM sampled""".stripMargin,
      "text_length_quantiles" ->
        s"""WITH t AS (SELECT lang, CAST(len($tokensSql) AS BIGINT) AS n_tokens
           |           FROM documents),
           |c AS (SELECT lang, n_tokens, count(*) AS cnt FROM t GROUP BY 1, 2),
           |w AS (SELECT lang, n_tokens,
           |        sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens) AS cum,
           |        sum(cnt) OVER (PARTITION BY lang) AS n
           |      FROM c)
           |SELECT lang,
           |  min(CASE WHEN cum >= ceil(0.5 * n) THEN n_tokens END) AS p50_tokens,
           |  min(CASE WHEN cum >= ceil(0.9 * n) THEN n_tokens END) AS p90_tokens,
           |  min(CASE WHEN cum >= ceil(0.99 * n) THEN n_tokens END) AS p99_tokens
           |FROM w GROUP BY lang""".stripMargin,
      "sample_source_cap" ->
        """SELECT source, keep_rank, doc_id FROM (
          |  SELECT source, doc_id,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
          |      AS BIGINT) AS keep_rank
          |  FROM documents)
          |WHERE keep_rank <= 10""".stripMargin
    )
  }
}
