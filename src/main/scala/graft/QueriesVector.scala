package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.Queries._

/** Registry chunk of [[Queries.all]] — similarity search + multimodal plumbing (north star): ANN brute/IVF/PQ, SRP banding, codecs, perceptual hashes.
  * Split from the Queries.scala monolith (round 13) purely for review and
  * merge cost; shared helpers stay in [[Queries]] and every entry is
  * byte-identical to its pre-split form. 35 keys (31 at the split; mm_video_frames + mm_mjpeg_frames added r17, mm_video_composited r18, mm_decode_stats r19).
  */
private[graft] object QueriesVector {
  val defs: Seq[QueryDef] = Seq(
    // ---- similarity search (north star) ----
    QueryDef("ann_cosine_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.bruteForceTopK(e.where(annQueryPred), e, "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 2048),
        s AS (SELECT qid, vec_id AS nid,
          list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * embedding[i]::DOUBLE)) /
          (sqrt(list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
           sqrt(list_sum(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))) AS sim
          FROM embeddings CROSS JOIN q WHERE vec_id <> qid)
        SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, nid AS neighbor_id FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    QueryDef("emb_quantize_int8",
      // symmetric per-vector int8 quantization, exploded to scalar rows so
      // the hash compare sees every quantized component; floor(·+0.5)
      // halfway semantics are engine-exact (Queries scaladoc / Similarity)
      (s, d) => Similarity.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("q")).as(Seq("idx", "qval")), col("scale"))
        .orderBy(col("vec_id"), col("idx")),
      Some("""SELECT vec_id, unnest(generate_series(1, len(embedding))) - 1 AS idx,
          unnest([CASE WHEN m = 0 THEN 0 ELSE CAST(floor(CAST(x AS DOUBLE)/m*127 + 0.5) AS INTEGER) END
            FOR x IN embedding]) AS qval,
          m AS scale
        FROM (SELECT vec_id, embedding,
            CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS m
          FROM embeddings)
        ORDER BY vec_id, idx""")),

    QueryDef("ann_quantized_topk",
      // int8-quantized cosine top-k: scales cancel in the cosine, so the
      // score is pure integer arithmetic in double — bit-identical across
      // engines, making this the ONE fully hash-checkable ANN variant
      // (float-cosine ann_cosine_topk checks ids only; IVF is rows-only).
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.quantizedTopK(e.where(annQueryPred), e, "vec_id", "embedding", 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH qz AS (
          SELECT vec_id, CASE WHEN m = 0 THEN [0 FOR x IN embedding]
            ELSE [CAST(floor(CAST(x AS DOUBLE)/m*127 + 0.5) AS INTEGER) FOR x IN embedding] END AS q
          FROM (SELECT vec_id, embedding,
              CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS m
            FROM embeddings)),
        s AS (SELECT qz.vec_id AS qid, c.vec_id AS nid,
            list_inner_product(qz.q, c.q) /
              (sqrt(list_inner_product(qz.q, qz.q)) * sqrt(list_inner_product(c.q, c.q))) AS sim
          FROM qz CROSS JOIN qz c WHERE qz.vec_id % 10 = 0 AND qz.vec_id < 2048 AND c.vec_id <> qz.vec_id)
        SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, nid AS neighbor_id, sim FROM (
          SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    QueryDef("ann_ivf_topk",
      // construct-and-check (the mm_video_meta/op05 pattern, applied to
      // IVF): the real embeddings' float centroid means are partition-
      // order dependent in the last ulp, so this key was rows-only. The
      // vectors here are an INTEGER-LATTICE derivation of vec_id (values
      // in [-5,7], exactly representable in float32): per-dim centroid
      // sums are then exact in double REGARDLESS of partition order, the
      // mean is one correctly-rounded division, and every cosine is the
      // same exactly-rounded (*,/,sqrt) arithmetic both engines already
      // hash-agree on for ann_cosine_topk — so the full route→probe→rank
      // pipeline (the REAL ivfTopK operator, centroids included) is
      // hash-checkable. Multipliers are coprime to the 11 modulus (no
      // degenerate constant dims except none); dim 0 is id%7+1 >= 1 so no
      // zero-norm vector exists at any scale factor.
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
          latticeVec.as("embedding"))
        Similarity.ivfTopK(e.where(annQueryPred), e, "vec_id", "embedding",
            "label", k = 5, nprobe = 3)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $latticeBaseCte,
        ${meanCteSql("base", "label", "cent")},
        ${ivfTailSql("base", "label", nprobe = 3)}""")),

    QueryDef("ann_ivf_fit",
      // the END-TO-END fresh-corpus IVF path: Lloyd's k-means fit
      // (deterministic seeds, one job per iteration, centroids broadcast
      // back as expression literals) → fitted cluster routing → ivfTopK.
      // Hash-checked via the same integer-lattice construct as
      // ann_ivf_topk: lattice means are exact in any partition order, so
      // the oracle can replay the ENTIRE iterative fit — seeds drawn by
      // the engine-portable (md5(id), id) key (DuckDB has no xxhash64),
      // then 3 unrolled assign/mean rounds with empty-cluster carryover,
      // then the fitted routing. Float-embedding recall-vs-brute-force
      // stays a SimilaritySpec property.
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
          latticeVec.as("embedding"))
        // route with the FITTED centroids (the FAISS-standard design): the
        // fit already holds them as driver values, so routing costs no
        // centroid re-aggregation pass and no broadcast build
        val cents = Similarity.kmeansFit(e, "vec_id", "embedding",
          k = 16, iters = 3, seedKey = c => md5(c.cast("string")))
        val labeled = e.withColumn("cluster",
          Similarity.nearestCentroid(col("embedding"), cents))
        Similarity.ivfTopKFitted(labeled.where(annQueryPred), labeled,
            "vec_id", "embedding", "cluster", k = 5, nprobe = 4, cents)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $latticeBaseCte,
        ${kmeansCtesSql(k = 16, iters = 3)},
        ${labCteSql}
        ${ivfTailSql("lab", "lbl", nprobe = 4)}""")),

    QueryDef("ann_pq_topk",
      // Product quantization + ADC (the FAISS memory regime: vectors →
      // m small codes, query↔code distance = m table lookups), on the
      // integer lattice so the WHOLE pipeline is hash-exact. The codebooks
      // here are the even product grid {-4,-2,0,2,4,6}² per 2-dim
      // subspace, in lexicographic order: squared-L2 over an axis-aligned
      // product grid minimizes PER COORDINATE, and the tie rule (lowest
      // code index = lexicographically smallest entry) picks the LOWER
      // even neighbor for odd values — so the real 36-way argmin the
      // operator runs has the closed form per dim
      //   q(v) = greatest(-4, least(6, v - abs(v % 2)))
      // which is what the oracle replays (SimilaritySpec runs the operators
      // on k-means-trained books; grid books keep the SQL analytic).
      (s, d) => {
        val base = t(s, d, "embeddings").select(col("vec_id"), latticeVec.as("v"))
        val codes = Similarity.pqEncode(base, "vec_id", "v", pqGridBooks)
        Similarity.pqAdcTopK(base.where(annQueryPred), codes,
            "vec_id", "v", pqGridBooks, k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            (-col("sim")).cast("int").as("adc_dist"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $latticeBaseCte,
        iv AS (SELECT vec_id, [CAST(v[i] AS INTEGER) FOR i IN generate_series(1, $LatDims)] AS w FROM base),
        codes AS (SELECT vec_id,
            [GREATEST(-4, LEAST(6, w[i] - ABS(w[i] % 2))) FOR i IN generate_series(1, $LatDims)] AS q
          FROM iv),
        scored AS (SELECT b.vec_id AS qid, c.vec_id AS nid,
            list_sum([(b.w[i] - c.q[i]) * (b.w[i] - c.q[i]) FOR i IN generate_series(1, $LatDims)]) AS dist
          FROM iv b JOIN codes c ON c.vec_id <> b.vec_id WHERE b.vec_id % 10 = 0 AND b.vec_id < 2048)
        SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, nid AS neighbor_id,
          CAST(dist AS INTEGER) AS adc_dist FROM (
          SELECT qid, nid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist ASC, nid ASC) AS rank
          FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""")),

    QueryDef("ann_pq_rerank",
      // the production TWO-STAGE retrieval shape: coarse PQ/ADC recall
      // (top-20 shortlist per query — compressed codes, m lookups per
      // pair) → EXACT cosine re-rank of the shortlist (top-5). Both
      // stages on the integer lattice, so the oracle replays the whole
      // funnel: the ADC stage via the product-grid closed form (see
      // ann_pq_topk) and the re-rank via the same exactly-rounded cosine
      // arithmetic every ANN oracle hash-agrees on.
      (s, d) => {
        val base = t(s, d, "embeddings").select(col("vec_id"), latticeVec.as("v"))
        val codes = Similarity.pqEncode(base, "vec_id", "v", pqGridBooks)
        val cand = Similarity.pqAdcTopK(base.where(annQueryPred),
          codes, "vec_id", "v", pqGridBooks, k = 20)
        Similarity.rerankExact(cand, base, "vec_id", "v", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $latticeBaseCte,
        iv AS (SELECT vec_id, [CAST(v[i] AS INTEGER) FOR i IN generate_series(1, $LatDims)] AS w FROM base),
        codes AS (SELECT vec_id,
            [GREATEST(-4, LEAST(6, w[i] - ABS(w[i] % 2))) FOR i IN generate_series(1, $LatDims)] AS q
          FROM iv),
        scored AS (SELECT b.vec_id AS qid, c.vec_id AS nid,
            list_sum([(b.w[i] - c.q[i]) * (b.w[i] - c.q[i]) FOR i IN generate_series(1, $LatDims)]) AS dist
          FROM iv b JOIN codes c ON c.vec_id <> b.vec_id WHERE b.vec_id % 10 = 0 AND b.vec_id < 2048),
        cand AS (SELECT qid, nid FROM (
            SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist ASC, nid ASC) AS r
            FROM scored) WHERE r <= 20),
        ex AS (SELECT c.qid, c.nid, ${cosSql("bq.v", "bn.v")} AS sim
          FROM cand c JOIN base bq ON c.qid = bq.vec_id JOIN base bn ON c.nid = bn.vec_id)
        SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, nid AS neighbor_id FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM ex) WHERE rank <= 5 ORDER BY query_id, rank""")),

    QueryDef("emb_near_dup",
      // The driver embeddings have NO true near-dups (measured max pairwise
      // cosine 0.479), and at cos 0.4 SRP-LSH is ~N^1.66 for ANY parameters
      // (round 1 ran it there with 8-bucket tables — quadratic). The query
      // now exercises the operator in its design regime: plant a
      // deterministic near-dup of every vector (±2% per-dim scaling →
      // cos ≈ 0.9997) and find the planted pairs at threshold 0.9 with the
      // scale-correct defaults (20-bit tables, 1-bit multiprobe). Planted
      // ids are −id−1: collision-free with the nonnegative real ids at ANY
      // scale factor (a fixed +offset would collide once the table outgrows
      // it).
      //
      // Oracle = the analytically-expected planted pair set (the
      // emb_semantic_dedup pattern): the ±2% per-dim perturbation bounds
      // the planted angle (cos >= ~0.9996 > 0.9 for EVERY vector), while
      // naturals top out at cos 0.479 and natural×planted at ~0.49 — so
      // the exact expected output is one (−id−1, id) pair per vector, and
      // the hash check asserts 100% LSH recall on the planted pairs AND
      // zero false positives. (The LSH mechanics need no SQL mirror; at
      // cos 0.9997 the 8-table/1-bit-multiprobe miss probability is ~1e-16
      // per pair, and on the driver's FIXED corpus recall is a determinism,
      // verified by this very hash compare.)
      (s, d) => {
        val e = t(s, d, "embeddings")
        val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val pert = e.select((-col("vec_id") - lit(1L)).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * (lit(1.0) + lit(0.02) * sin(col("vec_id") + i))).as("embedding"))
        Similarity.embeddingNearDupPairs(base.unionByName(pert), "vec_id", "embedding",
            threshold = 0.9)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT CAST(-vec_id - 1 AS BIGINT) AS id_a, vec_id AS id_b
        FROM embeddings ORDER BY 1, 2""")),

    QueryDef("emb_semantic_dedup",
      // SemDeDup end to end: corpus PLUS one planted EXACT copy of every
      // vector at id −v−1 (collision-free at any scale, as emb_near_dup).
      // Identical vectors share every SRP bucket and verify at cos 1.0, so
      // each {v, −v−1} pair clusters and the min-id (negative) survives —
      // the oracle is therefore the exact expected survivor set: the hash
      // check asserts 100% recall on planted copies AND zero false merges
      // among the naturals (max natural pairwise cosine 0.479 ≪ 0.9).
      // Float-safe to oracle BECAUSE copies are exact: bucket bits and the
      // cos=1 verify cannot flip on engine ulp differences.
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val planted = e.select((-col("vec_id") - lit(1L)).as("vec_id"), col("embedding"))
        Similarity.semanticDedup(e.unionByName(planted), "vec_id", "embedding")
          .select(col("vec_id")).orderBy(col("vec_id"))
      },
      Some("SELECT -vec_id - 1 AS vec_id FROM embeddings ORDER BY vec_id")),

    // ---- multimodal plumbing (north star; decode is STUBBED, see Multimodal) ----
    QueryDef("mm_binary_meta",
      (s, d) => Multimodal.attachPayload(t(s, d, "documents"), "text", "text/plain")
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        md5(text) AS checksum FROM documents ORDER BY doc_id""")),

    QueryDef("txt_substring_dups",
      // exact repeated-substring signal (window-hash form of suffix-array
      // substring dedup): per doc, how many of its 8-token windows occur
      // more than once anywhere in the corpus, and where the first one is
      (s, d) => TextAnalysis.substringDupStats(t(s, d, "documents"), "doc_id", "text",
          windowTokens = 8)
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
          FROM documents),
        win AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
            toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] AS w
          FROM tk, unnest(generate_series(1, len(toks) - 7)) AS g(i)
          WHERE len(toks) >= 8),
        c AS (SELECT w, count(*) AS cnt FROM win GROUP BY 1)
        SELECT win.doc_id, count(*) AS n_windows,
          CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
          CAST(coalesce(min(CASE WHEN c.cnt > 1 THEN win.pos END), 0) AS INTEGER) AS first_dup_pos,
          CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_frac
        FROM win JOIN c USING (w)
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("txt_dedup_spans",
      // the APPLY half of substring dedup: every duplicated 8-token window
      // occurrence except the globally-first is cut, text rebuilt from the
      // surviving tokens (greedy overlap policy; see scaladoc)
      (s, d) => TextAnalysis.removeDupWindowSpans(t(s, d, "documents"), "doc_id", "text",
          windowTokens = 8)
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
          FROM documents),
        win AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
            toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] AS w
          FROM tk, unnest(generate_series(1, len(toks) - 7)) AS g(i)
          WHERE len(toks) >= 8),
        fo AS (SELECT w, min(doc_id * 100000 + pos) AS mk FROM win GROUP BY 1),
        rem AS (SELECT win.doc_id, win.pos FROM win JOIN fo USING (w)
          WHERE win.doc_id * 100000 + win.pos <> fo.mk),
        cov AS (SELECT DISTINCT doc_id, CAST(pos + i AS INTEGER) AS tokpos
          FROM rem, unnest(generate_series(0, 7)) AS g(i)),
        tok AS (SELECT doc_id, CAST(i AS INTEGER) AS tokpos, toks[i] AS tok
          FROM tk, unnest(generate_series(1, len(toks))) AS g(i)),
        kept AS (SELECT t.doc_id, t.tokpos, t.tok FROM tok t
          LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.tokpos = cov.tokpos
          WHERE cov.doc_id IS NULL),
        reb AS (SELECT doc_id, count(*) AS n_kept,
            string_agg(tok, ' ' ORDER BY tokpos) AS clean_text
          FROM kept GROUP BY 1),
        tt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk WHERE len(toks) > 0)
        SELECT tt.doc_id, tt.n_tokens,
          tt.n_tokens - coalesce(reb.n_kept, 0) AS n_removed,
          coalesce(reb.clean_text, '') AS clean_text
        FROM tt LEFT JOIN reb ON tt.doc_id = reb.doc_id
        ORDER BY tt.doc_id""")),

    QueryDef("txt_heavy_hitters",
      // count-min sketch heavy hitters with the certified-accuracy oracle
      // (exact top-20 token counts + flags for exact ≤ est ≤ exact+⌈eps·N⌉);
      // completes the sketch family: HLL, GK, Bloom, CMS
      (s, d) => TextAnalysis.heavyHittersCertified(
          t(s, d, "documents")
            .select(explode(TextAnalysis.tokens(col("text"))).as("token")),
          "token", k = 20)
        .orderBySmall(col("cnt").desc, col("item")),
      Some("""WITH tok AS (
          SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS item
          FROM documents)
        SELECT item, count(*) AS cnt, TRUE AS within_cms_bounds
        FROM tok GROUP BY 1 ORDER BY cnt DESC, item LIMIT 20""")),

    QueryDef("txt_unigram_freq",
      // corpus-frequency quality score: mean corpus frequency of each doc's
      // tokens. Integer sums + one final multiply/divide — bit-identical
      // across engines by construction (no logs)
      (s, d) => TextAnalysis.unigramFreqScore(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
          FROM documents),
        c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
        tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        SELECT doc_id, count(*) AS n_tokens, CAST(sum(cnt) AS BIGINT) AS sum_cnt,
          CAST(sum(cnt) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * CAST((SELECT total FROM tt) AS DOUBLE)) AS avg_unigram_freq
        FROM tok JOIN c USING (token)
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("mm_image_dims",
      // header-metadata extraction from opaque binary with NO codec: build
      // a real big-endian PNG IHDR from each row's ids, then parse the
      // bytes back with substring/hex/conv expressions (construct-and-parse
      // — the op05_fixed_width trick applied to binary). The oracle derives
      // the dims arithmetically; matching proves the byte round-trip.
      (s, d) => {
        val e = t(s, d, "embeddings")
        val withPng = e.select(col("vec_id"),
          Multimodal.pngHeader(col("vec_id") % 1024 + 16, (col("vec_id") * 7) % 768 + 16)
            .as("payload"))
        Multimodal.imageDims(withPng, "payload")
          .select(col("vec_id"), col("width"), col("height"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, CAST(vec_id % 1024 + 16 AS INTEGER) AS width,
        CAST((vec_id * 7) % 768 + 16 AS INTEGER) AS height
        FROM embeddings ORDER BY vec_id""")),

    QueryDef("mm_decode_real",
      // REAL codec roundtrip, oracle-checked: encode a solid-color PNG per
      // row with the JDK's ImageIO (executor-side, partition-parallel),
      // decode it back with Multimodal.decodeImageFeatures, and emit
      // dims + channel means. PNG is lossless and the color is solid, so
      // the decoded means equal the constructed channel values EXACTLY —
      // lettng a SQL oracle verify an actual image-codec path arithmetically.
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 25 === 0).as[Long]
        val png = ids.mapPartitions { it =>
          it.map { id =>
            val w = (id % 13 + 3).toInt; val h = (id % 7 + 2).toInt
            val rgb = (((id % 256) << 16) | (((id * 3) % 256) << 8) | ((id * 7) % 256)).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var x = 0
            while (x < w) { var y = 0; while (y < h) { img.setRGB(x, y, rgb); y += 1 }; x += 1 }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }.toDF("vec_id", "payload")
        Multimodal.decodeImageFeatures(png, "vec_id")
          .select(col("id").as("vec_id"), col("width"), col("height"),
            col("mean_r"), col("mean_g"), col("mean_b"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, CAST(vec_id % 13 + 3 AS INTEGER) AS width,
        CAST(vec_id % 7 + 2 AS INTEGER) AS height,
        CAST(vec_id % 256 AS DOUBLE) AS mean_r,
        CAST((vec_id * 3) % 256 AS DOUBLE) AS mean_g,
        CAST((vec_id * 7) % 256 AS DOUBLE) AS mean_b
        FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id""")),

    QueryDef("mm_image_ahash",
      // perceptual average-hash through the REAL codec path, oracle-
      // checked: encode a 16×16 PNG per row with the left `vec_id % 17`
      // columns black and the rest white, then Multimodal.imageAHash
      // (decode → integer 8×8 box luma → cross-multiplied mean
      // threshold). The split construct makes every hash bit analytic —
      // a cell is 1 iff it is white, or is the boundary cell of a
      // majority-black image, or the image is all black — so the oracle
      // derives the full 64-bit hash (8 identical row bytes) from
      // vec_id alone, and the codec + hash pipeline must reproduce it
      // bit for bit
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 19 === 0).as[Long]
        val png = ids.mapPartitions { it =>
          it.map { id =>
            val lw = (id % 17).toInt
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var x = 0
            while (x < 16) {
              var y = 0
              val c = if (x < lw) 0x000000 else 0xffffff
              while (y < 16) { img.setRGB(x, y, c); y += 1 }
              x += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }.toDF("vec_id", "payload")
        Multimodal.imageAHash(png, "vec_id")
          .select(col("id").as("vec_id"), col("ok"), col("ahash_hex"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH sel AS (SELECT vec_id, vec_id % 17 AS lw FROM embeddings WHERE vec_id % 19 = 0),
        rb AS (SELECT vec_id, lw,
          (SELECT CAST(sum(CASE WHEN lw = 16 OR 2 * cx >= lw
              OR (lw % 2 = 1 AND 2 * cx + 1 = lw AND lw >= 8)
            THEN 1 << (7 - cx) ELSE 0 END) AS BIGINT)
           FROM generate_series(0, 7) AS t(cx)) AS rowbyte
        FROM sel)
        SELECT vec_id, true AS ok, repeat(printf('%02x', rowbyte), 8) AS ahash_hex
        FROM rb ORDER BY vec_id""")),

    QueryDef("mm_audio_real",
      // REAL audio codec roundtrip, oracle-checked (mm_decode_real's
      // pattern for sound): encode constant-amplitude 16-bit PCM WAVs with
      // the JDK's AudioSystem executor-side, decode with
      // decodeAudioFeatures — constant samples make peak and mean |amp|
      // equal the constructed amplitude exactly
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 37 === 0).as[Long]
        val wav = ids.mapPartitions { it =>
          it.map { id =>
            val amp = (id % 3000 + 100).toShort
            val nFrames = (id % 500 + 50).toInt
            val pcm = new Array[Byte](nFrames * 2)
            var i = 0
            while (i < nFrames) {
              pcm(2 * i) = (amp & 0xff).toByte; pcm(2 * i + 1) = (amp >> 8).toByte
              i += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(
              new javax.sound.sampled.AudioInputStream(
                new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            (id, bos.toByteArray)
          }
        }.toDF("vec_id", "payload")
        Multimodal.decodeAudioFeatures(wav, "vec_id")
          .select(col("id").as("vec_id"), col("sample_rate"), col("channels"),
            col("n_frames"), col("peak"), col("mean_abs"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, 8000 AS sample_rate, 1 AS channels,
        CAST(vec_id % 500 + 50 AS BIGINT) AS n_frames,
        CAST(vec_id % 3000 + 100 AS INTEGER) AS peak,
        CAST(vec_id % 3000 + 100 AS DOUBLE) AS mean_abs
        FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id""")),

    QueryDef("pipeline_multimodal",
      // multimodal curation in one chain: per doc, a REAL PNG (dims derived
      // from the row, encoded+decoded with actual codecs executor-side)
      // joined back to text-side token counts, then filtered on BOTH
      // modalities (image area + text length) — the image-and-caption
      // curation shape, with the codec path inside the oracle check
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val base = docs.select(col("doc_id"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        val png = base.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val w = (nChars % 20 + 4).toInt; val h = (id % 10 + 2).toInt
              val rgb = ((id % 256) << 16).toInt
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              var x = 0
              while (x < w) { var y = 0; while (y < h) { img.setRGB(x, y, rgb); y += 1 }; x += 1 }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              (id, bos.toByteArray)
            }
          }.toDF("doc_id", "payload")
        val feats = Multimodal.decodeImageFeatures(png, "doc_id")
          .select(col("id").as("doc_id"), col("width"), col("height"), col("mean_r"))
        base.join(feats, "doc_id")
          .where(col("width") * col("height") >= 50 && col("n_tokens") >= 30)
          .select(col("doc_id"), col("n_tokens"), col("width"), col("height"), col("mean_r"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, n_chars,
          CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
          FROM documents),
        f AS (SELECT doc_id, n_tokens,
          CAST(n_chars % 20 + 4 AS INTEGER) AS width,
          CAST(doc_id % 10 + 2 AS INTEGER) AS height,
          CAST(doc_id % 256 AS DOUBLE) AS mean_r FROM tk)
        SELECT doc_id, n_tokens, width, height, mean_r FROM f
        WHERE width * height >= 50 AND n_tokens >= 30
        ORDER BY doc_id""")),

    QueryDef("mm_frame_sample",
      // frames compare as HEX OF THE BYTES, not decoded strings: the
      // operator frames the payload in BYTE units (a boundary can split a
      // multi-byte character — sampleFrames' documented semantics), so a
      // character-sliced oracle only agreed on an all-ASCII corpus, and a
      // string-cast engine frame would hold replacement chars where a
      // split char's decode failed. Hex-of-bytes is byte-exact on BOTH
      // sides for ANY corpus (100 payload bytes = 200 hex chars).
      (s, d) => Multimodal.sampleFrames(
          Multimodal.attachPayload(t(s, d, "documents"), "text", "text/plain"),
          "doc_id", frameBytes = 100, everyNth = 2)
        .select(col("doc_id"), col("frame_no"), hex(col("frame")).as("frame_hex"))
        .orderBy(col("doc_id"), col("frame_no")),
      Some("""SELECT doc_id, CAST(fn AS INTEGER) AS frame_no,
          substring(hex(encode(text)), CAST(fn AS INTEGER) * 200 + 1, 200) AS frame_hex
        FROM documents,
          unnest(generate_series(0, CAST(ceil(octet_length(encode(text)) / 100.0) AS INTEGER) - 1)) AS t(fn)
        WHERE fn % 2 = 0 ORDER BY doc_id, frame_no""")),

    QueryDef("mm_video_meta",
      // video-CONTAINER metadata without a codec: a deterministic minimal
      // MP4 (ftyp+moov[mvhd]+mdat) is constructed per doc, then the ISO-BMFF
      // box walk parses brand/box inventory/timescale/duration back out —
      // the same construct-and-check pattern as op05/txt_pii_scrub, so the
      // byte-level parser is hash-checked against the analytic oracle
      (s, d) => {
        val vids = t(s, d, "documents").select(col("doc_id"),
          Multimodal.mp4Sample(lit(1000L), pmod(col("doc_id") * 37, lit(86400000L))).as("payload"))
        Multimodal.mp4Meta(vids, "doc_id")
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, true AS ok, 'isom' AS major_brand,
          CAST(3 AS INTEGER) AS n_boxes, 'ftyp,moov,mdat' AS box_types,
          CAST(1000 AS BIGINT) AS timescale,
          CAST(doc_id * 37 % 86400000 AS BIGINT) AS duration
        FROM documents ORDER BY doc_id""")),

    QueryDef("mm_video_frames",
      // REAL video pixel decode, oracle-checked (retires the r16 video
      // stub): an ANIMATED GIF per row — 2..4 solid-color frames through
      // the JDK's sequence writer with a pinned 2-entry palette (GIF is
      // lossless at ≤256 colors) — then videoFrameFeatures samples every
      // 2nd frame and decodes its pixels back. Solid frames make each
      // sampled frame's channel means equal the constructed palette
      // values EXACTLY, so the whole multi-frame codec path (container
      // walk + LZW + palette + pixel reduce) is verified arithmetically
      // by SQL, the mm_decode_real pattern extended to motion
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 31 === 0).as[Long]
        val gifs = ids.mapPartitions { it =>
          it.map { id =>
            val w = (id % 13 + 3).toInt; val h = (id % 7 + 2).toInt
            val frames = (0 until (id % 3 + 2).toInt).map { f =>
              val cm = new java.awt.image.IndexColorModel(8, 2,
                Array(((id * 5 + f * 31) % 256).toByte, 0.toByte),
                Array(((id * 7 + f * 13) % 256).toByte, 0.toByte),
                Array(((id * 11 + f * 3) % 256).toByte, 0.toByte))
              // raster defaults to index 0 = the frame's color
              new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
            }
            (id, Multimodal.gifAnimatedBytes(frames))
          }
        }.toDF("vec_id", "payload")
        Multimodal.videoFrameFeatures(gifs, "vec_id", everyNth = 2)
          .select(col("id").as("vec_id"), col("frame_no"), col("ok"),
            col("width"), col("height"),
            col("mean_r"), col("mean_g"), col("mean_b"))
          .orderBy(col("vec_id"), col("frame_no"))
      },
      Some("""SELECT vec_id, CAST(f AS INTEGER) AS frame_no, TRUE AS ok,
          CAST(vec_id % 13 + 3 AS INTEGER) AS width,
          CAST(vec_id % 7 + 2 AS INTEGER) AS height,
          CAST((vec_id * 5 + f * 31) % 256 AS DOUBLE) AS mean_r,
          CAST((vec_id * 7 + f * 13) % 256 AS DOUBLE) AS mean_g,
          CAST((vec_id * 11 + f * 3) % 256 AS DOUBLE) AS mean_b
        FROM embeddings, unnest(generate_series(0, CAST(vec_id % 3 + 1 AS BIGINT))) AS t(f)
        WHERE vec_id % 31 = 0 AND f % 2 = 0 ORDER BY vec_id, frame_no""")),

    QueryDef("mm_mjpeg_frames",
      // the MJPEG half of videoFrameFeatures under the oracle: per row a
      // concatenated-JPEG stream whose frame DIMENSIONS vary analytically
      // per frame (JPEG is lossy, so pixel means are spec-tested for
      // closeness instead — dims and frame inventory are exact whatever
      // the quantizer does). The entropy-safe FFD9 split plus per-frame
      // ImageIO decode must recover every frame's own geometry
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 37 === 0).as[Long]
        val streams = ids.mapPartitions { it =>
          it.map { id =>
            val bos = new java.io.ByteArrayOutputStream()
            for (f <- 0 until (id % 3 + 1).toInt) {
              val w = (id % 9 + 8 + f).toInt; val h = (id % 5 + 6 + f).toInt
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = img.createGraphics()
              g.setColor(new java.awt.Color(128, 128, 128)); g.fillRect(0, 0, w, h)
              g.dispose()
              javax.imageio.ImageIO.write(img, "jpg", bos)
            }
            (id, bos.toByteArray)
          }
        }.toDF("vec_id", "payload")
        Multimodal.videoFrameFeatures(streams, "vec_id", everyNth = 1)
          .select(col("id").as("vec_id"), col("frame_no"), col("ok"),
            col("width"), col("height"))
          .orderBy(col("vec_id"), col("frame_no"))
      },
      Some("""SELECT vec_id, CAST(f AS INTEGER) AS frame_no, TRUE AS ok,
          CAST(vec_id % 9 + 8 + f AS INTEGER) AS width,
          CAST(vec_id % 5 + 6 + f AS INTEGER) AS height
        FROM embeddings, unnest(generate_series(0, CAST(vec_id % 3 AS BIGINT))) AS t(f)
        WHERE vec_id % 37 = 0 ORDER BY vec_id, frame_no""")),

    QueryDef("mm_video_composited",
      // GIF89a disposal COMPOSITING under the oracle: per row a 3-frame
      // animated GIF on a W×H logical screen —
      //   f0 full-rect color A (doNotDispose), whose palette carries the
      //      BACKGROUND color Z at index 0 (the writer derives the global
      //      color table + backgroundColorIndex=0 from frame 0's palette);
      //   f1 a PARTIAL rect of color B at an (x, y) offset, disposal
      //      restoreToBackgroundColor — the r18-item-5 contract: its rect
      //      restores to Z, NOT to transparent;
      //   f2 a 1×1 rect of color C at (W−1, 0), provably disjoint from
      //      f1's rect (f1 spans x<4, y<3 while W≥4 forces x=W−1≥3 to pair
      //      with y=0 only when off=1 keeps y≥1).
      // Canvas means are exact integer blends SQL replays arithmetically
      // (palette GIFs are lossless; both engines divide the same integers
      // as doubles): f1 = (A·(WH−wh) + B·wh)/WH on the kept canvas, f2 =
      // (A·(WH−wh−1) + Z·wh + C)/WH on the background-restored one. The
      // key fails if offsets, canvas persistence, logical-screen dims, or
      // the background-fill disposal regress. (restoreToPrevious stays
      // spec-tested.)
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 41 === 0).as[Long]
        val gifs = ids.mapPartitions { it =>
          it.map { id =>
            def solid(r: Long, g: Long, b: Long, w: Int, h: Int) = {
              val cm = new java.awt.image.IndexColorModel(8, 2,
                Array((r % 256).toByte, 0.toByte),
                Array((g % 256).toByte, 0.toByte),
                Array((b % 256).toByte, 0.toByte))
              // raster defaults to index 0 = the frame's color
              new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
            }
            // frame 0: palette [background Z, own color A], raster filled
            // with A (exact palette match -> index 1); the global table the
            // writer derives from THIS palette is what the decoder's
            // background fill reads
            def solidOnBg(zr: Long, zg: Long, zb: Long,
                          r: Long, g: Long, b: Long, w: Int, h: Int) = {
              val cm = new java.awt.image.IndexColorModel(8, 2,
                Array((zr % 256).toByte, (r % 256).toByte),
                Array((zg % 256).toByte, (g % 256).toByte),
                Array((zb % 256).toByte, (b % 256).toByte))
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
              val gr = img.createGraphics()
              gr.setColor(new java.awt.Color((r % 256).toInt, (g % 256).toInt, (b % 256).toInt))
              gr.fillRect(0, 0, w, h); gr.dispose()
              img
            }
            val w = (id % 11 + 4).toInt; val h = (id % 5 + 3).toInt
            val w2 = (id % 3 + 1).toInt; val h2 = (id % 2 + 1).toInt
            val off = (id % 2).toInt
            (id, Multimodal.gifAnimatedBytesPlaced(Seq(
              (solidOnBg(id * 23, id * 29, id * 31,
                id * 3, id * 5, id * 7, w, h), 0, 0, "doNotDispose"),
              (solid(id * 13, id * 17, id * 19, w2, h2), off, off, "restoreToBackgroundColor"),
              (solid(id * 37, id * 43, id * 47, 1, 1), w - 1, 0, "doNotDispose"))))
          }
        }.toDF("vec_id", "payload")
        Multimodal.videoFrameFeatures(gifs, "vec_id", everyNth = 1, composite = true)
          .select(col("id").as("vec_id"), col("frame_no"), col("ok"),
            col("width"), col("height"),
            col("mean_r"), col("mean_g"), col("mean_b"))
          .orderBy(col("vec_id"), col("frame_no"))
      },
      Some("""WITH par AS (SELECT vec_id,
            vec_id % 11 + 4 AS w, vec_id % 5 + 3 AS h,
            vec_id % 3 + 1 AS w2, vec_id % 2 + 1 AS h2,
            (vec_id * 3) % 256 AS ar, (vec_id * 5) % 256 AS ag, (vec_id * 7) % 256 AS ab,
            (vec_id * 13) % 256 AS br, (vec_id * 17) % 256 AS bg, (vec_id * 19) % 256 AS bb,
            (vec_id * 23) % 256 AS zr, (vec_id * 29) % 256 AS zg, (vec_id * 31) % 256 AS zb,
            (vec_id * 37) % 256 AS cr, (vec_id * 43) % 256 AS cg, (vec_id * 47) % 256 AS cb
          FROM embeddings WHERE vec_id % 41 = 0)
        SELECT vec_id, 0 AS frame_no, TRUE AS ok,
            CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
            CAST(ar AS DOUBLE) AS mean_r, CAST(ag AS DOUBLE) AS mean_g,
            CAST(ab AS DOUBLE) AS mean_b
          FROM par
        UNION ALL
        SELECT vec_id, 1, TRUE, CAST(w AS INTEGER), CAST(h AS INTEGER),
            CAST(ar * (w * h - w2 * h2) + br * w2 * h2 AS DOUBLE) / (w * h),
            CAST(ag * (w * h - w2 * h2) + bg * w2 * h2 AS DOUBLE) / (w * h),
            CAST(ab * (w * h - w2 * h2) + bb * w2 * h2 AS DOUBLE) / (w * h)
          FROM par
        UNION ALL
        SELECT vec_id, 2, TRUE, CAST(w AS INTEGER), CAST(h AS INTEGER),
            CAST(ar * (w * h - w2 * h2 - 1) + zr * w2 * h2 + cr AS DOUBLE) / (w * h),
            CAST(ag * (w * h - w2 * h2 - 1) + zg * w2 * h2 + cg AS DOUBLE) / (w * h),
            CAST(ab * (w * h - w2 * h2 - 1) + zb * w2 * h2 + cb AS DOUBLE) / (w * h)
          FROM par
        ORDER BY vec_id, frame_no""")),

    QueryDef("mm_decode_stats",
      // the quarantine-observability summary under the oracle: a corpus
      // whose codec and validity are chosen per row by id arithmetic
      // (valid GIF / valid + corrupt ISO-BMFF / unknown magic / NULL /
      // valid JPEG), reduced by decodeStats to per-codec ok/quarantine
      // counts plus the DETERMINISTIC min-id error sample — all of which
      // SQL replays as CASE arithmetic. sample_err (the message text) is
      // deliberately excluded: decoder wording is JDK-owned, the
      // counts/sample-id contract is ours.
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 101 === 0).as[Long]
        val payloads = ids.mapPartitions { it =>
          it.map { id =>
            val bytes: Array[Byte] = (id % 6) match {
              case 0 => Multimodal.gifAnimatedBytes(Seq(new java.awt.image.BufferedImage(
                2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)))
              case 1 => Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p',
                'i', 's', 'o', 'm', 0, 0, 0, 1)
              case 2 => Array[Byte](0, 0, 0, 99, 'f', 't', 'y', 'p', 'i', 's', 'o', 'm')
              case 3 => s"junk-$id".getBytes("UTF-8")
              case 4 => null
              case _ =>
                val img = new java.awt.image.BufferedImage(
                  3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(img, "jpg", bos)
                bos.toByteArray
            }
            (id, bytes)
          }
        }.toDF("vec_id", "payload")
        Multimodal.decodeStats(payloads, "vec_id")
          .select(col("codec"), col("n_ok"), col("n_quarantined"), col("sample_err_id"))
          .orderBy(col("codec"))
      },
      Some("""WITH par AS (SELECT vec_id, vec_id % 6 AS m
            FROM embeddings WHERE vec_id % 101 = 0),
          c AS (SELECT vec_id,
            CASE m WHEN 0 THEN 'gif' WHEN 1 THEN 'mp4' WHEN 2 THEN 'mp4'
                   WHEN 3 THEN 'unknown' WHEN 4 THEN 'none' ELSE 'jpeg' END AS codec,
            CASE WHEN m IN (0, 1, 5) THEN 1 ELSE 0 END AS ok FROM par)
        SELECT codec, CAST(sum(ok) AS BIGINT) AS n_ok,
            CAST(sum(1 - ok) AS BIGINT) AS n_quarantined,
            min(CASE WHEN ok = 0 THEN vec_id END) AS sample_err_id
        FROM c GROUP BY codec ORDER BY codec""")),

    QueryDef("op_histogram",
      // fixed-bound equi-width histogram: one map-side-combined agg, ≤24
      // output rows at any SF; bucket index is exactly-rounded IEEE floor
      // arithmetic (identical in both engines even on edge values)
      (s, d) => Analytics.histogramFixed(
          t(s, d, "lineitem"), col("l_extendedprice"), 0.0, 5000.0, 24)
        .orderBySmall(col("bucket")),
      Some("""WITH b AS (SELECT CAST(least(greatest(floor((l_extendedprice - 0.0) / 5000.0), 0.0), 23.0) AS INTEGER) AS bucket
          FROM lineitem WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice))
        SELECT bucket, 0.0 + CAST(bucket AS DOUBLE) * 5000.0 AS lo_edge, count(*) AS n
        FROM b GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_quantile_grid",
      // certified grid quantiles: ONE mergeable bounded-state agg (200
      // counters) answers seven percentile queries with a deterministic
      // interval guarantee (error ≤ width) — the sketch-free alternative
      // to approx_percentile whose result is engine-replayable, so it
      // hash-checks (a t-digest/KLL answer is implementation-defined and
      // could not). Integer target ranks ⌈p·N/100⌉; the window cumsum and
      // the rank-location θ-join run over the ≤202-row bucket table, so
      // the single-partition window is metadata-sized at any SF
      (s, d) => Analytics.quantileGrid(
          t(s, d, "orders"), col("o_totalprice"), 0.0, 5000.0, 200,
          Seq(1, 25, 50, 75, 90, 99, 100))
        .orderBySmall(col("p")),
      Some("""WITH b0 AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
          WHERE o_totalprice IS NOT NULL AND NOT isnan(CAST(o_totalprice AS DOUBLE))),
        b AS (SELECT CASE WHEN v < 0.0 THEN -1 WHEN v >= 1000000.0 THEN 200
          ELSE CAST(least(floor((v - 0.0) / 5000.0), 199.0) AS INTEGER) END AS bucket FROM b0),
        h AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
        c AS (SELECT bucket, n,
          sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM h),
        p AS (SELECT unnest([1, 25, 50, 75, 90, 99, 100]) AS p),
        pt AS (SELECT p.p, t.n_total, (p.p * t.n_total + 99) // 100 AS target FROM p, t),
        loc AS (SELECT p, n_total, target, min(bucket) AS bucket
          FROM pt JOIN c ON c.cum >= pt.target GROUP BY 1, 2, 3)
        SELECT p, n_total AS n_rows, target AS rank, bucket,
          CASE WHEN bucket < 0 THEN NULL ELSE 0.0 + CAST(bucket AS DOUBLE) * 5000.0 END AS q_lo,
          CASE WHEN bucket >= 200 THEN NULL ELSE 0.0 + CAST(bucket + 1 AS DOUBLE) * 5000.0 END AS q_hi,
          bucket >= 0 AND bucket < 200 AS certified
        FROM loc ORDER BY p""")),

    QueryDef("op_group_sample",
      // deterministic k-per-group inspection sample: the portable
      // (md5(key), key) shuffle order k-means seeding already uses; output
      // bounded by k·|groups| at any SF, stable across runs and engines
      (s, d) => Sampling.groupSample(
          t(s, d, "documents").select(col("doc_id"), col("source")),
          col("source"), col("doc_id"), 5)
        .orderBySmall(col("source"), col("doc_id")),
      Some("""SELECT doc_id, source FROM (
          SELECT doc_id, source,
            row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents) WHERE rk <= 5 ORDER BY source, doc_id""")),

    QueryDef("op_expectations",
      // Deequ-style data-quality report: ALL row-level checks in one
      // aggregation pass (adding a rule adds zero scans), plus the two
      // checks that need a shuffle by nature — key uniqueness and
      // referential integrity (anti-join orphans) — unioned into the same
      // long-format (check_name, n_violations, n_rows, passed) report
      (s, d) => {
        val o = t(s, d, "orders")
        val rowChecks = Analytics.expectations(o, Seq(
          "custkey_not_null" -> col("o_custkey").isNull,
          "orderdate_not_null" -> col("o_orderdate").isNull,
          "priority_in_domain" -> !col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          "totalprice_positive" -> (col("o_totalprice").isNull || col("o_totalprice") <= 0.0)))
        rowChecks
          .unionByName(Analytics.uniquenessViolations(o, Seq(col("o_orderkey")), "orderkey_unique"))
          .unionByName(Analytics.orphanCount(o, col("o_custkey"),
            t(s, d, "customer"), col("c_custkey"), "custkey_references_customer"))
          .orderBySmall(col("check_name"))
      },
      Some("""WITH rep AS (
          SELECT 'custkey_not_null' AS check_name,
            CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
            count(*) AS n_rows FROM orders
          UNION ALL SELECT 'orderdate_not_null',
            CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM orders
          UNION ALL SELECT 'priority_in_domain',
            CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
              THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM orders
          UNION ALL SELECT 'totalprice_positive',
            CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT),
            count(*) FROM orders
          UNION ALL SELECT 'orderkey_unique',
            (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) FROM (
              SELECT count(*) AS k FROM orders GROUP BY o_orderkey HAVING count(*) > 1)),
            count(*) FROM orders
          UNION ALL SELECT 'custkey_references_customer',
            (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
            count(*) FROM orders)
        SELECT check_name, n_violations, n_rows, n_violations = 0 AS passed
        FROM rep ORDER BY check_name""")),

    QueryDef("op_rolling",
      // sliding-frame moving average per user: the rolling sum is a
      // DECIMAL sum cast back to double because sliding engines add the
      // frame in different orders (DuckDB segment tree vs Spark
      // add/retract) — decimal is the only representation where that
      // difference is invisible; (ts_us, event_id) totally orders the key
      (s, d) => Analytics.rollingStats(
          eventsUs(s, d).select(col("event_id"), col("user_id"), col("ts_us"), col("value")),
          col("user_id"), Seq(col("ts_us"), col("event_id")), col("value"), 3)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("roll_sum"), col("roll_n"), col("roll_avg"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id")),
      Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          CAST(sum(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE) AS roll_sum,
          count(value) OVER w AS roll_n,
          CAST(sum(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE)
            / CAST(count(value) OVER w AS DOUBLE) AS roll_avg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts_us, event_id""")),

    QueryDef("op_ewma",
      // dyadic EWMA (α = 1/2, 16-term truncation): exponential smoothing
      // whose weighted numerator is PURE BIGINT — values pre-scale with
      // floor(v·1000) (floor, not cast: double→long casts truncate in
      // Spark but round in DuckDB), weights are powers of two, so the
      // smoothed series is exact to the last bit with one deterministic
      // double division at the end. One window sort per user; the 16-lag
      // chain reads the same frame — no self-joins, no decimal-precision
      // cliffs (see Analytics.dyadicEwma)
      (s, d) => {
        val ev = eventsUs(s, d).select(col("user_id"), col("event_id"), col("ts_us"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
        Analytics.dyadicEwma(ev, col("user_id"), Seq(col("ts_us"), col("event_id")),
            col("v_milli"), scaleDiv = 1000.0)
          .select(col("user_id"), col("event_id"), col("ts_us"), col("v_milli"),
            col("ewma_num"), col("ewma"))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
      },
      Some(ewmaOracleSql)),

    QueryDef("op_rank_normalize",
      // percent-rank normalization (the rank-gauss / quantile-transform
      // first stage): per-source percent_rank of document length under a
      // TOTAL order (n_chars, doc_id — no ties, so the rank and the one
      // (rank−1)/(n−1) double division are engine-identical rationals).
      // One window shuffle on the group key; output is the per-doc
      // normalized feature
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("pr", percent_rank().over(w))
          .orderBy(col("source"), col("doc_id"))
      },
      Some("""SELECT doc_id, source, n_chars,
          percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS pr
        FROM documents ORDER BY source, doc_id""")),

    QueryDef("op_range_window",
      // time-based RANGE frame (the other half of the sliding-window
      // surface — op_rolling's frame is a ROW count, this one is defined
      // by the VALUE of ts): per-user trailing-1-hour sum/count at each
      // event. Ties in ts share the identical frame, so no tiebreak
      // enters the frame definition and the aggregate is deterministic
      // by construction; the frame sum is DECIMAL for the same
      // evaluation-order reason as op_rolling.
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"))
          .rangeBetween(-3600L * 1000000L, 0L)
        eventsUs(s, d)
          .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
          .withColumn("hr_sum", sum(col("value").cast("decimal(24,6)")).over(w).cast("double"))
          .withColumn("hr_n", count(col("value")).over(w))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
          CAST(sum(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE) AS hr_sum,
          count(value) OVER w AS hr_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts_us, event_id""")),

    QueryDef("op_mad_outliers",
      // robust (median/MAD) outlier stats — the heavy-tail-safe cousin of
      // op_zscore: exact rank-interpolation medians (winsorize's spillable
      // shape, no unbounded percentile buffer); l_quantity is integral so
      // every interp (halves/quarters) and the 3·MAD compare are exact in
      // both engines
      (s, d) => Analytics.madStats(
          t(s, d, "lineitem"), col("l_returnflag"), col("l_quantity"))
        .orderBySmall(col("grp")),
      Some("""WITH v AS (SELECT l_returnflag AS grp, CAST(l_quantity AS DOUBLE) AS x
          FROM lineitem WHERE l_quantity IS NOT NULL),
        m AS (SELECT grp, quantile_cont(x, 0.5) AS med FROM v GROUP BY 1),
        d AS (SELECT v.grp AS grp, x, med, abs(x - med) AS ad FROM v JOIN m ON v.grp = m.grp),
        md AS (SELECT grp, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1)
        SELECT d.grp AS grp, count(*) AS n_rows, max(med) AS median, max(md.mad) AS mad,
          CAST(sum(CASE WHEN ad > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM d JOIN md ON d.grp = md.grp GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_contingency",
      // χ²/mutual-information feed: contingency cells with integer
      // marginals (expected counts derivable downstream as exact
      // rationals); one SF-scale shuffle (the cell groupBy) — the marginal
      // windows run over the ≤|A|·|B| cell table, not the fact table
      (s, d) => Analytics.contingency(
          t(s, d, "orders"), col("o_orderpriority"), col("o_orderstatus"))
        .orderBySmall(col("a"), col("b")),
      Some("""WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
            count(*) AS n_obs FROM orders GROUP BY 1, 2)
        SELECT a, b, n_obs,
          CAST(sum(n_obs) OVER (PARTITION BY a) AS BIGINT) AS row_total,
          CAST(sum(n_obs) OVER (PARTITION BY b) AS BIGINT) AS col_total,
          CAST(sum(n_obs) OVER () AS BIGINT) AS n_total
        FROM cells ORDER BY a, b""")),
  )
}
