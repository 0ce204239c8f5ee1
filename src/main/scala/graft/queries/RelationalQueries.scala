package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Query.pq

/** Relational operators over the sf-dir tables: aggregation, filters,
  * joins, window top-k, token and embedding statistics, and term-weighted
  * retrieval (BM25, TF-IDF). */
private[graft] object RelationalQueries {
  val all: Seq[Query] = Seq(
    // --- C8 stats aggregation (checkpoint stats analog) ---
    Query("q01_pricing_summary", (s, dir) => {
      pq(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_price,
         round(avg(l_discount), 6) AS avg_disc
         FROM lineitem WHERE l_shipdate <= '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),

    // --- P1/P2 filters + projection pushdown ---
    Query("q02_filter_project", (s, dir) => {
      pq(s, dir, "documents")
        .filter(col("n_chars") >= 300)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE n_chars >= 300 ORDER BY doc_id""")),

    // --- C1/C10 exact dedup by content hash (canonical winner = min id) ---
    Query("q03_exact_dedup", (s, dir) => {
      pq(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
        .orderBy(col("text_hash"))
    }, oracle = Some(
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
         count(*) AS dup_count
         FROM documents GROUP BY md5(text) ORDER BY text_hash""")),

    // --- W2 argmax (dedupe-winner pattern: best anchor/confidence) ---
    Query("q04_dedup_argmax", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      pq(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"))
    }, oracle = Some(
      """SELECT lang, doc_id, n_chars FROM (
           SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM documents) t
         WHERE rn = 1 ORDER BY lang""")),

    // --- C6 orphan detection (left-anti join) ---
    Query("q05_orphan_antijoin", (s, dir) => {
      val c = pq(s, dir, "customer")
      val o = pq(s, dir, "orders").filter(col("o_orderdate") >= lit("1998-06-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, oracle = Some(
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= '1998-06-01')
         ORDER BY c_custkey""")),

    // --- W3 top-k per group ---
    Query("q06_window_topk", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      pq(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"))
    }, oracle = Some(
      """SELECT o_custkey, o_orderkey, rnk FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders) t
         WHERE rnk <= 3 ORDER BY o_custkey, rnk""")),

    // --- J broadcast dimension join + aggregation ---
    Query("q07_join_agg", (s, dir) => {
      val n = pq(s, dir, "nation")
      val c = pq(s, dir, "customer")
      val o = pq(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("total_price"))
        .orderBy(col("n_name"))
    }, oracle = Some(
      """SELECT n_name, count(*) AS n_orders,
         round(sum(o_totalprice), 4) AS total_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")),

    // --- T6/T7 tokenization + token stats (text-analysis op) ---
    Query("q08_token_stats", (s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("n_tokens"),
          size(array_distinct(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))).as("n_distinct_tokens"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id,
         length(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens,
         length(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS n_distinct_tokens
         FROM documents ORDER BY doc_id""")),

    // --- language profile (language-ID support stats) ---
    Query("q09_lang_profile", (s, dir) => {
      pq(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(avg(size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))), 4).as("avg_tokens"))
        .orderBy(col("lang"))
    }, oracle = Some(
      """SELECT lang, count(*) AS n_docs,
         round(avg(n_chars), 4) AS avg_chars,
         round(avg(length(regexp_extract_all(text, '[a-z0-9]+'))), 4) AS avg_tokens
         FROM documents GROUP BY lang ORDER BY lang""")),

    // --- T13 content fingerprinting (sha256 prefix, doc_id scheme) ---
    Query("q10_fingerprint", (s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"), substring(sha2(col("text"), 256), 1, 16).as("fp"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, substr(sha256(text), 1, 16) AS fp
         FROM documents ORDER BY doc_id""")),

    // --- 2.10 time-bucketed event aggregation (batch windowing) ---
    Query("q11_event_hourly", (s, dir) => {
      pq(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }, oracle = Some(
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
         count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // --- per-entity rollup (stats reconstruction S8) ---
    Query("q12_user_rollup", (s, dir) => {
      pq(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(max(col("value")), 4).as("max_value"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("user_id"))
    }, oracle = Some(
      """SELECT user_id, count(*) AS n_events,
         round(max(value), 4) AS max_value,
         count(DISTINCT event_type) AS n_types
         FROM events GROUP BY user_id ORDER BY user_id""")),

    // --- T11 year extraction + histogram ---
    Query("q13_order_years", (s, dir) => {
      pq(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("yr"))
    }, oracle = Some(
      """SELECT year(o_orderdate) AS yr, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY yr""")),

    // --- embeddings: per-label stats (array access; ANN base table) ---
    Query("q14_embed_stats", (s, dir) => {
      pq(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(element_at(col("embedding"), 1)), 6).as("avg_dim0"))
        .orderBy(col("label"))
    }, oracle = Some(
      """SELECT label, count(*) AS n,
         round(avg(embedding[1]), 6) AS avg_dim0
         FROM embeddings GROUP BY label ORDER BY label""")),

    // --- text quality scoring (training-data filter op) ---
    Query("q15_quality_score", (s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"),
          graft.data.TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, round(
           least(length(text) / 500.0, 1.0) * 0.3
           + CASE WHEN length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) > 0
                   AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                       / length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))
                       BETWEEN 3.0 AND 9.0
                  THEN 0.3 ELSE 0.1 END
           + CASE WHEN length(text) > 0
                  THEN least(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 1.0)
                  ELSE 0.0 END * 0.3
           + (0.1 - CASE WHEN length(text) > 0
                    THEN least(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 3.0 / length(text), 0.1)
                    ELSE 0.0 END), 6) AS quality
         FROM documents ORDER BY doc_id""")),

    // --- exact cosine top-k similarity search (brute-force baseline) ---
    Query("q16_embed_topk", (s, dir) => {
      val base = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Similarity.bruteForceTopK(queries, base, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = Some(
      """WITH base AS (
           SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM base WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, b.vec_id,
             list_cosine_similarity(q.q_emb, b.embedding) AS c
           FROM base b, q WHERE b.vec_id <> q.query_id)
         SELECT query_id, vec_id, round(c, 6) AS cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
         FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""")),

    // --- C7 commons tally: id-set intersection of two corpora ---
    Query("q26_commons_tally", (s, dir) => {
      val early = pq(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01"))
        .select(col("o_custkey").as("custkey")).distinct()
      val late = pq(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01"))
        .select(col("o_custkey").as("custkey")).distinct()
      early.intersect(late).orderBy(col("custkey"))
    }, oracle = Some(
      """SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderdate < '1996-01-01'
         INTERSECT
         SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderdate >= '1996-01-01'
         ORDER BY custkey""")),

    // --- BM25 retrieval over the documents table (term-stats joins) ---
    Query("q24_bm25", (s, dir) => {
      import s.implicits._
      val docs = pq(s, dir, "documents")
        .select(col("doc_id").as("conv_id"), col("text").as("doc_text"))
      val queries = Seq(
        (0, "spark join merge"), (1, "window filter scan"),
        (2, "customer order line")).toDF("query_id", "query_text")
      graft.kg.query.Retrieval.bm25Scores(s, docs, queries)
        .orderBy(col("query_id"), col("doc_id"))
    }, oracle = Some(
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf FROM (
             SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
             FROM documents) GROUP BY doc_id, term),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         stats AS (SELECT avg(dl) AS avgdl FROM dl),
         n AS (SELECT count(*) AS n FROM documents),
         dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         q AS (SELECT * FROM (VALUES (0, 'spark join merge'),
                (1, 'window filter scan'), (2, 'customer order line'))
                AS t(query_id, qtext)),
         qt AS (SELECT query_id,
                unnest(list_distinct(regexp_extract_all(lower(qtext), '[a-z0-9]+'))) AS term
                FROM q)
         SELECT qt.query_id AS query_id, tf.doc_id AS doc_id,
           round(sum(ln((n.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
             * (tf.tf * 2.5) / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
         FROM qt JOIN tf USING(term) JOIN dl USING(doc_id)
              JOIN dfs USING(term), stats, n
         GROUP BY qt.query_id, tf.doc_id
         ORDER BY query_id, doc_id""")),
    // --- TF-IDF retrieval (rows-only: sklearn-style weighting) ---
    Query("q25_tfidf_topk", (s, dir) => {
      import s.implicits._
      val docs = pq(s, dir, "documents")
        .select(col("doc_id").as("conv_id"), col("text").as("doc_text"))
      val queries = Seq(
        (0, "spark join merge"), (1, "window filter scan")).toDF("query_id", "query_text")
      graft.kg.query.Retrieval.topK(
        graft.kg.query.Retrieval.tfidfScores(s, docs, queries), 10, docCol = "doc_id")
        .orderBy(col("query_id"), col("rank"))
    }, oracle = Some(
      // mirrors Retrieval.tfidfScores: 1-2 grams, sublinear tf (1+ln tf),
      // smooth idf (ln((1+N)/(1+df))+1), L2 norms both sides, cosine by
      // term join; query terms missing from the corpus drop out pre-norm
      """WITH dt AS (
           SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS t
           FROM documents),
         uni AS (SELECT id, unnest(t) AS term FROM dt),
         bii AS (SELECT id, t, unnest(generate_series(1, len(t)-1)) AS i
                 FROM dt WHERE len(t) >= 2),
         bi AS (SELECT id, t[i] || ' ' || t[i+1] AS term FROM bii),
         allt AS (SELECT id, term FROM uni UNION ALL SELECT id, term FROM bi),
         tf AS (SELECT id AS doc_id, term, count(*) AS tf FROM allt GROUP BY 1, 2),
         nd AS (SELECT count(*) AS n FROM documents),
         dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         w AS (SELECT doc_id, term,
                 (1.0 + ln(tf)) * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
               FROM tf JOIN dfs USING(term), nd),
         nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY doc_id),
         dvec AS (SELECT doc_id, term, w / nrm AS dw FROM w JOIN nrm USING(doc_id)),
         q AS (SELECT * FROM (VALUES (0, 'spark join merge'),
               (1, 'window filter scan')) AS v(query_id, qt)),
         qdt AS (SELECT query_id,
                   list_filter(string_split_regex(lower(qt), '\W+'), x -> len(x) > 0) AS t
                 FROM q),
         quni AS (SELECT query_id, unnest(t) AS term FROM qdt),
         qbii AS (SELECT query_id, t, unnest(generate_series(1, len(t)-1)) AS i
                  FROM qdt WHERE len(t) >= 2),
         qbi AS (SELECT query_id, t[i] || ' ' || t[i+1] AS term FROM qbii),
         qallt AS (SELECT query_id, term FROM quni
                   UNION ALL SELECT query_id, term FROM qbi),
         qtf AS (SELECT query_id, term, count(*) AS tf FROM qallt GROUP BY 1, 2),
         qw AS (SELECT query_id, term,
                  (1.0 + ln(tf)) * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
                FROM qtf JOIN dfs USING(term), nd),
         qnrm AS (SELECT query_id, sqrt(sum(w*w)) AS qn FROM qw GROUP BY query_id),
         qvec AS (SELECT query_id, term, w / qn AS qw FROM qw JOIN qnrm USING(query_id)),
         scores AS (SELECT query_id, doc_id, round(sum(qw * dw), 6) AS score
                    FROM qvec JOIN dvec USING(term) GROUP BY 1, 2)
         SELECT query_id, doc_id, score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
           FROM scores) WHERE rank <= 10
         ORDER BY query_id, rank"""))
  )
}
