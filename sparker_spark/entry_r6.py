"""Round-6 gated queries: the builtin baseline JPEG codec under the
value-hash oracle.

Same posture as the r5 PNG gate (entry_r5.q_multimodal_png_features):
each document becomes a real solid-color JPEG built worker-side by the
repo's spec-direct encoder, then decoded back through the registry's
dependency-free baseline decoder (llm/jpeg.py: Huffman entropy decode,
dequantize, IDCT, YCbCr->RGB). JPEG is lossy, but a solid-color
quality-100 image is DC-only with unit quantization, so the decoded
bytes are EXACTLY the integer YCbCr round trip of the input color —
closed-form arithmetic the DuckDB oracle states with the same
floor(x+0.5) rounding rule the codec uses (jpeg.py module docstring:
numpy rint would round half-to-even, the oracle does not).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def q_multimodal_jpeg_features(spark, sf_dir):
    """Builtin JPEG decode path under the VALUE-HASH gate: encode an
    8x6 solid-color baseline JPEG per document (channel bytes are
    arithmetic in doc_id) inside Arrow-batched mapInPandas, decode
    through DecodeRegistry -> decode_jpeg -> llm/jpeg.decode, and
    emit the recovered channel bytes. The oracle replicates the
    RGB->YCbCr->RGB integer round trip in closed form, so the entire
    binary encode->entropy-decode->IDCT->color-convert chain is
    value-checked, not just row-counted."""
    from sparker_spark.entry import _parallelize_scan, load
    from sparker_spark.llm.multimodal import extract_features

    # the python-side entropy codec is the per-row cost here; a
    # single-file scan would pin all 5000 payloads on ONE python
    # worker (16 s at sf0.1 -> ~1.5 s at 32-way)
    docs = _parallelize_scan(load(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id")
    )

    def make_jpeg(batches):
        import numpy as np
        import pandas as pd

        from sparker_spark.llm import jpeg

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                # the oracle replays this arithmetic with DuckDB's
                # sign-preserving % — non-negative ids keep the two
                # engines' modulo (and the unreachable encoder-side
                # YCbCr clamp corner, see oracle comment) in sync
                assert mid >= 0, "JPEG gate fixture requires doc_id >= 0"
                img = np.zeros((6, 8, 3), dtype=np.uint8)
                img[:, :, 0] = mid % 256
                img[:, :, 1] = (mid * 7) % 256
                img[:, :, 2] = (mid * 13) % 256
                payloads.append(jpeg.encode(img, quality=100))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads,
                 "mime": "image/jpeg"}
            )

    media = docs.mapInPandas(
        make_jpeg, schema="media_id long, payload binary, mime string"
    )
    feats = extract_features(media)
    # feature array is float32; mean*255 of a solid image is within
    # ~2e-5 of the exact integer byte — same recovery as the PNG gate
    byte = lambda i: F.round(  # noqa: E731
        F.element_at("feature", i) * 255.0
    ).cast("int")
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("int").alias("width"),
        F.element_at("feature", 2).cast("int").alias("height"),
        byte(3).alias("r_byte"),
        byte(4).alias("g_byte"),
        byte(5).alias("b_byte"),
    )


# The oracle replays the codec's arithmetic: forward RGB->YCbCr with
# floor(x+0.5) (jpeg.encode), DC-only quality-100 JPEG returns those
# integer planes exactly (unit quant, DC = 8*(c-128), IDCT error
# ~1e-13 « the 0.5 rounding margin), then inverse YCbCr->RGB with the
# same rounding + clamp (jpeg.decode). Term order matches the numpy
# expressions so both engines compute identical doubles.
#
# Domain notes pinned by the fixture-side `assert mid >= 0`:
# (1) DuckDB % is sign-preserving while Python % is floored, so the
#     modulo family below matches the fixture only for doc_id >= 0;
# (2) jpeg.encode clips the forward YCbCr planes at [0, 255] and this
#     oracle does NOT — the clip can only fire when floor(plane + 0.5)
#     reaches 256 (e.g. cr at exactly (r,g,b)=(255,0,0)), and no
#     (m%256, 7m%256, 13m%256) triple with m >= 0 reaches any such
#     corner: the three residues are coupled mod 256, so the extreme
#     channel combinations the clamp needs cannot co-occur.
O_MULTIMODAL_JPEG = """
WITH rgb AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 256 AS DOUBLE) AS r,
         CAST((doc_id * 7) % 256 AS DOUBLE) AS g,
         CAST((doc_id * 13) % 256 AS DOUBLE) AS b
  FROM documents),
ycc AS (
  SELECT media_id,
         floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5) AS y,
         floor(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0 + 0.5) AS cb,
         floor(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0 + 0.5) AS cr
  FROM rgb)
SELECT media_id,
       CAST(8 AS INTEGER) AS width,
       CAST(6 AS INTEGER) AS height,
       CAST(least(greatest(floor(y + 1.402 * (cr - 128.0) + 0.5),
                           0), 255) AS INTEGER) AS r_byte,
       CAST(least(greatest(floor(y - 0.344136 * (cb - 128.0)
                                   - 0.714136 * (cr - 128.0) + 0.5),
                           0), 255) AS INTEGER) AS g_byte,
       CAST(least(greatest(floor(y + 1.772 * (cb - 128.0) + 0.5),
                           0), 255) AS INTEGER) AS b_byte
FROM ycc"""


def q_video_frame_plan(spark, sf_dir):
    """Video frame-sampling plumbing under the gate: each document
    becomes a video row with typed metadata (duration arithmetic in
    doc_id), and llm/multimodal.frame_sample_plan expands it into
    (media_id, frame_ts_ms) work units — pure column expressions over
    the metadata struct, no decode (codec libs are stubbed in this
    container; the plan layer is the Spark-side contract a real
    frame extractor consumes row-parallel). The oracle replays the
    stepped sequence with generate_series."""
    from sparker_spark.entry import load
    from sparker_spark.llm.multimodal import frame_sample_plan

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(640).alias("width"),
            F.lit(360).alias("height"),
            # 0.5s .. 60s, exercising the < every_ms short-clip branch
            ((F.col("doc_id") * 731) % 60000 + 500)
            .cast("long")
            .alias("duration_ms"),
        ).alias("meta"),
    )
    return frame_sample_plan(docs, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms")
    )


O_VIDEO_FRAME_PLAN = """
WITH v AS (
  SELECT doc_id AS media_id,
         (doc_id * 731) % 60000 + 500 AS duration_ms
  FROM documents)
SELECT media_id, CAST(ts AS BIGINT) AS frame_ts_ms
FROM v, LATERAL (
  SELECT unnest(CASE WHEN duration_ms >= 1000
                     THEN generate_series(0, duration_ms - 1, 1000)
                     ELSE [0] END) AS ts)"""


def q_dedup_keep_best(spark, sf_dir):
    """Near-dup canonicalization under the VALUE-HASH gate: the same
    MinHash-LSH pair relation dedup_cc_clusters closes over, but the
    survivor of each cluster is chosen by the gated quality score
    (Dedup.keep_best) instead of min-id — the decision a training-data
    pipeline actually ships. Every document gets a row (singletons
    keep themselves), so the output is the corpus-wide keep/drop
    verdict."""
    from sparker_spark.entry import (
        JACCARD_T,
        MINHASH_BANDS,
        MINHASH_K,
        SHINGLE,
        load,
    )
    from sparker_spark.llm.dedup import Dedup
    from sparker_spark.llm.text import TextAnalysis

    docs = load(spark, sf_dir, "documents")
    pairs = Dedup.minhash_lsh_pairs(
        docs, MINHASH_K, MINHASH_BANDS, SHINGLE, JACCARD_T
    )
    scores = TextAnalysis.quality_score(docs).select(
        "doc_id", "quality_score"
    )
    return Dedup.keep_best(scores, pairs)


def _o_dedup_keep_best() -> str:
    from sparker_spark.entry import _o_dedup_minhash, _o_text_quality

    return f"""WITH RECURSIVE edges AS (
{_o_dedup_minhash()}
),
und AS (SELECT p1 AS u, p2 AS v FROM edges
        UNION SELECT p2 AS u, p1 AS v FROM edges),
reach(u, r) AS (
  SELECT DISTINCT u, u FROM und
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u
),
comp AS (SELECT u, min(r) AS component FROM reach GROUP BY u),
q AS (
  SELECT doc_id, quality_score FROM ({_o_text_quality()})),
lab AS (
  SELECT q.doc_id, COALESCE(comp.component, q.doc_id) AS component,
         q.quality_score
  FROM q LEFT JOIN comp ON q.doc_id = comp.u),
ranked AS (
  SELECT doc_id, component, quality_score,
         count(*) OVER (PARTITION BY component) AS cluster_size,
         row_number() OVER w AS rn,
         first_value(doc_id) OVER w AS keeper_id
  FROM lab
  WINDOW w AS (PARTITION BY component
               ORDER BY quality_score DESC, doc_id ASC))
SELECT doc_id, component, cluster_size, quality_score, keeper_id,
       rn = 1 AS kept
FROM ranked"""


def q_curation_boilerplate(spark, sf_dir):
    """Cross-corpus boilerplate-line removal under the VALUE-HASH
    gate. The raw documents table is single-line with no cross-doc
    shared lines, so the query builds a deterministic multi-line
    corpus around each body (same construction in the oracle): a
    'section <doc_id%7>' header shared by ~1/7th of the corpus (drops
    at min_docs=5), the unique body (always kept), and a
    'ref <doc_id%250>' trailer shared by only a couple of docs (kept)
    — so the gate checks both drop and keep decisions plus exact
    order-preserving reconstruction."""
    from sparker_spark.entry import load
    from sparker_spark.llm.curation import BoilerplateRemoval

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("section "), (F.col("doc_id") % 7).cast("string")),
            F.col("text"),
            F.concat(F.lit("ref "), (F.col("doc_id") % 250).cast("string")),
        ).alias("text"),
    )
    return BoilerplateRemoval.remove_shared_lines(docs, min_docs=5)


O_CURATION_BOILERPLATE = """
WITH corpus AS (
  SELECT doc_id,
         concat_ws(chr(10),
                   'section ' || CAST(doc_id % 7 AS VARCHAR),
                   text,
                   'ref ' || CAST(doc_id % 250 AS VARCHAR)) AS text
  FROM documents),
lines AS (
  SELECT doc_id, i AS idx, ls[i + 1] AS ln,
         regexp_replace(ls[i + 1],
                        '^[ \t\r\f\x0B]+|[ \t\r\f\x0B]+$',
                        '', 'g') AS key
  FROM (SELECT doc_id,
               regexp_split_to_array(text, '\r?\n') AS ls FROM corpus),
       LATERAL (SELECT unnest(range(len(ls))) AS i) t),
freq AS (
  SELECT key
  FROM lines WHERE key <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
kept AS (
  SELECT l.doc_id, l.idx, l.ln
  FROM lines l LEFT JOIN freq f USING (key)
  WHERE f.key IS NULL),
per_doc AS (
  SELECT doc_id, count(*) AS n_lines_kept,
         string_agg(ln, chr(10) ORDER BY idx) AS text
  FROM kept GROUP BY doc_id),
totals AS (SELECT doc_id, count(*) AS n_total FROM lines GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(p.n_lines_kept, 0) AS n_lines_kept,
       t.n_total - COALESCE(p.n_lines_kept, 0) AS n_lines_dropped,
       COALESCE(p.text, '') AS text
FROM totals t LEFT JOIN per_doc p ON t.doc_id = p.doc_id"""


def q_knn_label_vote(spark, sf_dir):
    """k-NN label vote under the VALUE-HASH gate: same exact top-k
    cosine neighbor relation ann_topk_cosine grades (rounded-cosine
    ranking, id tiebreak, bounded query side), then a majority vote
    over the neighbors' labels with smallest-label tie-break — the
    mislabel-candidate report a labeling-QA pass ships. At corpus
    scale the neighbors argument takes IVFIndex.search output
    instead; the voting plan is identical."""
    from sparker_spark.entry import ANN_K, ANN_QUERY_MOD, load
    from sparker_spark.llm.similarity import LabelKNN

    emb = load(spark, sf_dir, "embeddings")
    return LabelKNN.predict(
        emb, k=ANN_K, query_filter=f"vec_id % {ANN_QUERY_MOD} = 0"
    )


def _o_knn_label_vote() -> str:
    from sparker_spark.entry import ANN_K, ANN_QUERY_MOD

    return f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm
  FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id % {ANN_QUERY_MOD} = 0),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         round(list_dot_product(q.emb, v.emb) / (q.norm * v.norm), 6) AS cosine
  FROM q, v WHERE q.vec_id <> v.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored),
votes AS (
  -- NULL-labeled neighbors consume rank slots but never vote, and
  -- NULL-labeled queries never reach the output — the same contract
  -- LabelKNN.predict states (similarity.py), not an accident of the
  -- fixture having no NULL labels
  SELECT r.query_id, CAST(v.label AS BIGINT) AS n_label,
         count(*) AS votes
  FROM ranked r JOIN v ON r.neighbor_id = v.vec_id
  WHERE r.rank <= {ANN_K} AND v.label IS NOT NULL
  GROUP BY r.query_id, v.label),
pred AS (
  SELECT query_id, n_label AS predicted_label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, n_label ASC) AS rn
  FROM votes)
SELECT p.query_id AS vec_id, CAST(q.label AS BIGINT) AS true_label,
       p.predicted_label, p.votes,
       p.predicted_label = CAST(q.label AS BIGINT) AS agrees
FROM pred p JOIN q ON p.query_id = q.vec_id
WHERE p.rn = 1 AND q.label IS NOT NULL"""


def r6_queries() -> dict:
    return {
        "multimodal_jpeg_features": q_multimodal_jpeg_features,
        "video_frame_plan": q_video_frame_plan,
        "dedup_keep_best": q_dedup_keep_best,
        "curation_boilerplate": q_curation_boilerplate,
        "knn_label_vote": q_knn_label_vote,
    }


def r6_oracles() -> dict:
    return {
        "multimodal_jpeg_features": O_MULTIMODAL_JPEG,
        "video_frame_plan": O_VIDEO_FRAME_PLAN,
        "dedup_keep_best": _o_dedup_keep_best(),
        "curation_boilerplate": O_CURATION_BOILERPLATE,
        "knn_label_vote": _o_knn_label_vote(),
    }
