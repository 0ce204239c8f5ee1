package graft
package queries

import org.apache.spark.sql.functions._
import Query.pq

/** Near-duplicate detection and similarity search (minhash, simhash,
  * fingerprints, cosine/embedding dedup, IVF top-k, token Jaccard), plus
  * language ID and media features. */
private[graft] object DedupQueries {
  val all: Seq[Query] = Seq(
    // --- dedup family (planted duplicates are DETERMINISTIC — filter on id,
    //     never limit() — so DuckDB oracles can reconstruct them) ---
    Query("q17_minhash_dedup", (s, dir) => {
      val d = pq(s, dir, "documents")
      val planted = d.unionByName(
        d.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000))
      graft.data.Dedup.minhashDedupVerified(s, planted, "doc_id", "text", threshold = 0.5)
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // independent brute-force route: all-pairs exact 3-gram-shingle Jaccard
      // (the Spark side's LSH candidates + exact verify must find the same
      // pairs), then recursive min-label propagation for the canonical map
      """WITH RECURSIVE planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              for i in generate_series(1, len(toks)-2)])
             ELSE [array_to_string(toks, ' ')] END AS sh
           FROM (SELECT doc_id, string_split_regex(lower(text), '\W+') AS toks
                 FROM planted)),
         pairs AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)) >= 0.5),
         walk(id, lbl) AS (
           SELECT doc_id, doc_id FROM planted
           UNION
           SELECT p.dst, w.lbl FROM walk w JOIN pairs p ON p.src = w.id)
         SELECT id AS doc_id, min(lbl) AS canonical_id
         FROM walk GROUP BY id ORDER BY doc_id""")),
    Query("q18_simhash_pairs", (s, dir) => {
      // plant shifted duplicates so the operator has work at every sf
      val d = pq(s, dir, "documents")
      val planted = d.unionByName(
        d.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000))
      graft.data.Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3)
        .orderBy(col("a"), col("b"))
    }, oracle = Some(
      // independent brute-force route: per-doc simhash recomputed in SQL
      // (FNV-1a per token via list_reduce in wraparound HUGEINT arithmetic,
      // 64 per-bit sign votes), then ALL-pairs hamming <= 3 via xor+bit_count
      // — the Spark side's quarter-bucket LSH candidates must find the same
      // pairs (pigeonhole-exact for hamming <= 3, caps unhit at this scale)
      """WITH planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
         t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS toks
           FROM planted),
         th AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(14695981039346656037::UBIGINT,
                            [unicode(c)::UBIGINT for c in string_split(tok, '')]),
               (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT
             ) AS h
           FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
         votes AS (
           SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM th, (SELECT unnest(generate_series(0, 63)) AS b)
           GROUP BY doc_id, b),
         sh AS (
           SELECT t.doc_id,
             coalesce((SELECT sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0 END)
                       FROM votes WHERE votes.doc_id = t.doc_id), 0)::UBIGINT AS simhash
           FROM t)
         SELECT a.doc_id AS a, b.doc_id AS b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY a, b""")),
    Query("q19_fingerprint_pairs", (s, dir) => {
      val d = pq(s, dir, "documents")
      val planted = d.unionByName(
        d.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000))
      graft.data.TextAnalysis.fingerprintPairs(planted, "doc_id", "text", minShared = 20)
        .orderBy(col("a"), col("b"))
    }, oracle = Some(
      // independent brute-force route: the winnowing fingerprint set
      // recomputed in SQL (char-8-gram FNV rolling hashes, window-of-4
      // SIGNED minima — the Scala loop compares signed longs), the same
      // df > 64 postings drop, then all-pairs shared-fingerprint counts
      """WITH planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
         t AS (
           SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s FROM planted),
         hsu AS (
           SELECT doc_id, s,
             [list_reduce(
                list_prepend(14695981039346656037::UBIGINT,
                             [unicode(c)::UBIGINT for c in string_split(s[i:i+7], '')]),
                (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT)
              for i in generate_series(1, len(s) - 7)] AS hs_u
           FROM t),
         hss AS (
           SELECT doc_id, s,
             [CASE WHEN u >= 9223372036854775808::UBIGINT
                   THEN (u::HUGEINT - 18446744073709551616)::BIGINT
                   ELSE u::BIGINT END
              FOR u IN hs_u] AS hs
           FROM hsu),
         w AS (
           SELECT doc_id,
             CASE WHEN len(s) < 8 THEN
               [CASE WHEN u >= 9223372036854775808::UBIGINT
                     THEN (u::HUGEINT - 18446744073709551616)::BIGINT
                     ELSE u::BIGINT END
                FOR u IN [list_reduce(
                  list_prepend(14695981039346656037::UBIGINT,
                               [unicode(c)::UBIGINT for c in string_split(s, '')]),
                  (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT)]]
             ELSE list_distinct([list_min(hs[i:i+3]) for i in generate_series(1, len(hs)-3)])
             END AS wins
           FROM hss),
         fp AS (SELECT doc_id, unnest(wins) AS fp FROM w),
         keepfp AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 64),
         kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN keepfp USING(fp))
         SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 20
         ORDER BY a, b""")),
    Query("q20_cosine_near_dup", (s, dir) => {
      val e = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = e.unionByName(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000))
      graft.data.Similarity.cosineNearDupPairs(planted, dim = 64, threshold = 0.999, bits = 8)
        .orderBy(col("a"), col("b"))
    }, oracle = Some(
      // independent brute-force route: all-pairs exact cosine (520² is cheap
      // in DuckDB); the Spark side's LSH buckets must find the same pairs
      """WITH base AS (
           SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS e
           FROM embeddings WHERE vec_id < 20)
         SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cosine
         FROM base a JOIN base b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.e, b.e) >= 0.999
         ORDER BY a, b""")),
    Query("q27_embedding_dedup", (s, dir) => {
      val e = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = e.unionByName(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000))
      graft.data.Similarity.embeddingDedup(s, planted, dim = 64, threshold = 0.999, bits = 8)
        .orderBy(col("vec_id"))
    }, oracle = Some(
      // recursive min-label propagation over the brute-force pair graph
      """WITH RECURSIVE base AS (
           SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS e
           FROM embeddings WHERE vec_id < 20),
         pairs AS (
           SELECT a.vec_id AS src, b.vec_id AS dst
           FROM base a JOIN base b
             ON a.vec_id <> b.vec_id
            AND list_cosine_similarity(a.e, b.e) >= 0.999),
         walk(id, lbl) AS (
           SELECT vec_id, vec_id FROM base
           UNION
           SELECT p.dst, w.lbl FROM walk w JOIN pairs p ON p.src = w.id)
         SELECT id AS vec_id, min(lbl) AS canonical_id
         FROM walk GROUP BY id ORDER BY vec_id""")),
    Query("q21_lang_id", (s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"), graft.data.TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors TextAnalysis.langId: per-profile score = 1000×(distinct
      // profile words present) + total profile-word token count; argmax with
      // ties to the lexicographically greatest language; CJK short-circuit
      """WITH t AS (
           SELECT doc_id,
             string_split_regex(lower(text), '\W+') AS toks,
             regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS cjk
           FROM documents),
         s AS (
           SELECT doc_id, cjk,
             len(list_intersect(toks, ['the','and','of','to','is','that','for','with']))*1000
               + len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','for','with'], x))) AS s_en,
             len(list_intersect(toks, ['le','la','les','et','des','une','est','que']))*1000
               + len(list_filter(toks, x -> list_contains(['le','la','les','et','des','une','est','que'], x))) AS s_fr,
             len(list_intersect(toks, ['el','la','los','las','que','por','con','una']))*1000
               + len(list_filter(toks, x -> list_contains(['el','la','los','las','que','por','con','una'], x))) AS s_es,
             len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein']))*1000
               + len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS s_de
           FROM t)
         SELECT doc_id,
           CASE WHEN cjk THEN 'zh'
                WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                WHEN s_en >= s_de THEN 'en'
                ELSE 'de' END AS pred_lang
         FROM s ORDER BY doc_id""")),
    // static hash-derived anchors (integer-exact arithmetic) so a DuckDB
    // oracle can mirror cell assignment + probing exactly; the k-means
    // production path (ivfTopKKmeans over buildIvfIndex) trains on floats —
    // not SQL-mirrorable — and is verified by the recall@10 ≥ 0.9 and
    // determinism assertions in DataOpsSpec instead
    Query("q22_ivf_topk", (s, dir) => {
      val base = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Similarity.ivfTopK(queries, base, dim = 64, cells = 16, nProbe = 4, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = Some(
      // full mirror of the static-anchor IVF: hash-derived anchors
      // (wraparound FNV arithmetic, integer-exact), cell assignment by
      // round-9 cosine argmax (ties -> highest cell, matching Spark's
      // greatest(struct)), top-4 probe per query (ties -> lowest cell,
      // matching the stable array_sort), then exact cosine top-k in the
      // probed cells only
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         a1 AS (
           SELECT c, i,
             ((xor(14695981039346656037::UBIGINT, (c * 1315423911 + i)::UBIGINT)::HUGEINT
               * 1099511628211) % 18446744073709551616)::UBIGINT AS h1
           FROM (SELECT unnest(generate_series(0, 15)) AS c),
                (SELECT unnest(generate_series(0, 63)) AS i)),
         a2 AS (SELECT c, i, xor(h1, h1 >> 29) AS h2 FROM a1),
         anchors AS (
           SELECT c, list(((h2 & 65535)::DOUBLE / 65535.0) * 2.0 - 1.0 ORDER BY i) AS vec
           FROM a2 GROUP BY c),
         bassign AS (
           SELECT vec_id, e, c,
             round(list_inner_product(e, vec)
               / (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(vec, vec))), 9) AS s
           FROM base, anchors),
         bcell AS (
           SELECT vec_id, e, c AS cell FROM (
             SELECT vec_id, e, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rn
             FROM bassign) t WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < 5),
         qassign AS (
           SELECT query_id, qe, c,
             round(list_inner_product(qe, vec)
               / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(vec, vec))), 9) AS s
           FROM q, anchors),
         qprobe AS (
           SELECT query_id, qe, c AS cell FROM (
             SELECT query_id, qe, c,
               row_number() OVER (PARTITION BY query_id ORDER BY s DESC, c ASC) AS rn
             FROM qassign) t WHERE rn <= 4),
         scored AS (
           SELECT qp.query_id, b.vec_id,
             list_inner_product(qp.qe, b.e)
               / (sqrt(list_inner_product(qp.qe, qp.qe)) * sqrt(list_inner_product(b.e, b.e))) AS cos
           FROM qprobe qp JOIN bcell b USING (cell)
           WHERE b.vec_id <> qp.query_id)
         SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
           SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
           FROM scored) t WHERE rank <= 5
         ORDER BY query_id, rank""")),
    Query("q23_media_features", (s, dir) => {
      val n = pq(s, dir, "documents").count().toInt
      graft.data.Multimodal.kindStats(
        graft.data.Multimodal.decodeFeatures(
          graft.data.Multimodal.syntheticMedia(s, n)))
        .orderBy(col("kind"))
    }, oracle = Some(
      // full mirror of the deterministic media stub: per-row xorshift payload
      // generation (recursive CTE in wraparound HUGEINT arithmetic), FNV-1a
      // over SIGN-EXTENDED payload bytes, the salted field mixer with Java
      // floorMod semantics, float32 feature cast, then the kind aggregates
      """WITH RECURSIVE media AS (
           SELECT i,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             64 + (i * 2654435761) % 192 AS ln,
             ((i::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT AS h0
           FROM (SELECT unnest(generate_series(0, (SELECT count(*) - 1 FROM documents))) AS i)),
         xs(i, j, h, ln) AS (
           SELECT i, 0, h0, ln FROM media
           UNION ALL
           SELECT i, j + 1,
             xor(
               xor(
                 xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT),
                 xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT) >> 7),
               ((xor(
                   xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT),
                   xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT) >> 7
                 )::HUGEINT * 131072) % 18446744073709551616)::UBIGINT),
             ln
           FROM xs WHERE j < ln),
         bytes AS (
           SELECT i, j, h & 255 AS b FROM xs WHERE j >= 1),
         blist AS (
           SELECT i,
             list(CASE WHEN b < 128 THEN b::UBIGINT
                       ELSE (18446744073709551360::UBIGINT + b) END ORDER BY j) AS sext
           FROM bytes GROUP BY i),
         fnv AS (
           SELECT i, list_reduce(
               list_prepend(14695981039346656037::UBIGINT, sext),
               (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT) AS h2
           FROM blist),
         feat AS (
           SELECT m.i, m.kind,
             CASE WHEN m.kind = 'audio' THEN 0 ELSE fld.w END AS width,
             CASE WHEN m.kind = 'image' THEN 1 ELSE fld.nf END AS n_frames,
             (fld.f0 / 1000.0)::FLOAT AS feat0
           FROM media m JOIN fnv USING (i),
           LATERAL (
             SELECT
               (((CASE WHEN x1w >= 9223372036854775808::UBIGINT
                       THEN x1w::HUGEINT - 18446744073709551616 ELSE x1w::HUGEINT END % 1920) + 1920) % 1920 + 64)::BIGINT AS w,
               (((CASE WHEN x1n >= 9223372036854775808::UBIGINT
                       THEN x1n::HUGEINT - 18446744073709551616 ELSE x1n::HUGEINT END % 300) + 300) % 300 + 1)::BIGINT AS nf,
               (((CASE WHEN x1f >= 9223372036854775808::UBIGINT
                       THEN x1f::HUGEINT - 18446744073709551616 ELSE x1f::HUGEINT END % 2000) + 2000) % 2000 - 1000)::BIGINT AS f0
             FROM (
               SELECT xor(x0w, x0w >> 31) AS x1w, xor(x0n, x0n >> 31) AS x1n, xor(x0f, x0f >> 31) AS x1f
               FROM (
                 SELECT
                   ((xor(h2, ((1::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT AS x0w,
                   ((xor(h2, ((3::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT AS x0n,
                   ((xor(h2, ((100::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT AS x0f
               ) s0
             ) s1
           ) fld)
         SELECT kind, count(*) AS n,
           round(avg(width), 4) AS avg_width,
           round(avg(n_frames), 4) AS avg_frames,
           round(avg(feat0), 6) AS avg_feat0
         FROM feat GROUP BY kind ORDER BY kind""")),

    // --- token-set Jaccard between adjacent docs (J8 scorer, exact) ---
    Query("q28_token_jaccard", (s, dir) => {
      val toks = pq(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("toks"))
      val a = toks.select(col("doc_id").as("a"), col("toks").as("ta"))
      val b = toks.select(col("doc_id").as("b"), col("toks").as("tb"))
      a.join(b, col("a") + 1 === col("b"))
        .select(col("a"), col("b"),
          round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))), 6).as("jaccard"))
        .orderBy(col("a"))
    }, oracle = Some(
      """WITH t AS (SELECT doc_id,
             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
           FROM documents)
         SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                 len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
         FROM t a JOIN t b ON a.doc_id + 1 = b.doc_id
         ORDER BY a""")),

    // --- multimodal image decode: REAL ImageIO decode of planted PNGs whose
    //     pixels follow pure arithmetic (gray = (id*31 + x*7 + y*13) % 256
    //     over id-derived dims). PNG is lossless, so the decoded pooled 4×4
    //     mean-luma grid equals the generating formula and a SQL oracle
    //     mirrors it without touching image bytes ---
    Query("q52_image_decode", (s, dir) => {
      val decU = udf((id: Long) =>
        graft.data.Multimodal.imageGrid(graft.data.Multimodal.plantedImage(id)).get)
      pq(s, dir, "documents")
        .select(col("doc_id"), decU(col("doc_id")).as("dec"))
        .select(col("doc_id"),
          col("dec._1").cast("long").as("width"),
          col("dec._2").cast("long").as("height"),
          posexplode(col("dec._3")).as(Seq("block", "fraw")))
        .select(col("doc_id"), col("width"), col("height"),
          col("block").cast("long").as("block"),
          // engine-portable 6-dp rounding (see q49): floor(x*10^k + 0.5)/10^k
          (floor(col("fraw") * 1000000.0 + 0.5) / 1000000.0).as("f"))
        .orderBy(col("doc_id"), col("block"))
    }, oracle = Some(
      // mirrors Multimodal.imageGrid over plantedImage: the planted pixels
      // are pure arithmetic (gray = (id*31 + x*7 + y*13) % 256, dims
      // 8+(id*3%17) × 8+(id*5%13)); PNG encode→decode is lossless, so the
      // SQL needs no image bytes — block d = (y*4//h)*4 + x*4//w, value =
      // sum(r+g+b) / (pixels*765) with integer sums (exact in doubles in
      // any order), then the engine-portable floor rounding
      """WITH dims AS (
           SELECT doc_id AS id,
             8 + (doc_id*3 % 17) AS w, 8 + (doc_id*5 % 13) AS h
           FROM documents),
         ys AS (SELECT id, w, h, unnest(generate_series(0, h-1)) AS y FROM dims),
         px AS (SELECT id, w, h, y, unnest(generate_series(0, w-1)) AS x FROM ys),
         blk AS (
           SELECT id, w, h,
             ((y*4)//h)*4 + (x*4)//w AS block,
             (id*31 + x*7 + y*13) % 256 AS g
           FROM px)
         SELECT id AS doc_id, w AS width, h AS height,
           CAST(block AS BIGINT) AS block,
           floor((sum(3*g) * 1.0 / (count(*) * 765.0)) * 1000000.0 + 0.5) / 1000000.0 AS f
         FROM blk GROUP BY 1, 2, 3, 4
         ORDER BY doc_id, block"""))
  )
}
