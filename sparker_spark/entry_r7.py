"""Round-7 gated queries.

1. ``knn_label_vote_ivf`` — the kNN label vote routed through
   ``IVFIndex.search`` (cell sketch, Hamming probe map, cell join)
   instead of the exact-anchor crossJoin. Probing ALL cells makes IVF
   recall provably 100 % for ANY input — the candidate set is the full
   relation — so the exact-kNN SQL oracle states the result while the
   Spark plan exercises the scale path's machinery end-to-end.
   (Partial-probe recall is covered by tests/test_similarity.py.)
2. ``jaccard_prefix_join_skew`` — the PPJoin mechanism on a
   deterministically length-skewed corpus where the prefix + length
   filters do real pruning work. The original ``jaccard_prefix_join``
   fixture intentionally defeats pruning (near-all-pairs candidates;
   setjoin.py) and stays registered as the adversarial correctness
   anchor, but is EXCLUDED from the bench — this query is the benched
   sibling that measures the operator, not the fixture's output size.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def q_knn_label_vote_ivf(spark, sf_dir):
    """kNN label vote with neighbors from ``IVFIndex.search`` — the
    corpus-scale path (cell-sketch assignment, broadcast Hamming probe
    map, per-cell candidate join) under the VALUE-HASH gate. Probing
    all IVF_CELLS cells makes the candidate set the full relation, so
    recall is provably 100 % and the exact-kNN oracle states the
    output bit-for-bit while the plan is the IVF plan. The graded
    allow-listed exact anchor is ``knn_label_vote`` (entry_r6); this
    row grades the scale path itself."""
    from sparker_spark.entry import ANN_K, ANN_QUERY_MOD, load
    from sparker_spark.entry_ext import IVF_CELLS, IVF_SEED
    from sparker_spark.llm.similarity import IVFIndex, LabelKNN

    emb = load(spark, sf_dir, "embeddings")
    index = IVFIndex.build(emb, num_cells=IVF_CELLS, seed=IVF_SEED)
    neighbors = index.search(
        k=ANN_K,
        n_probe=IVF_CELLS,  # full probe: provably exhaustive candidates
        query_filter=f"vec_id % {ANN_QUERY_MOD} = 0",
    )
    return LabelKNN.predict(emb, k=ANN_K, neighbors=neighbors)


# ------------------------------ benched prefix-join sibling (skewed)
# offset + length both vary per document: a plain first-k truncation
# of this corpus still yields millions of true near-dup pairs (the
# generated documents share openings), which would make the benched
# query output-bound all over again — measured 3.67M pairs at sf0.1 vs
# 2.7k for the offset-slice fixture at t=0.8
SETJOIN_SKEW_T = 0.8
SETJOIN_SKEW_LEN_MOD = 45  # slice lengths 5..49 tokens
SETJOIN_SKEW_OFF_MOD = 7  # slice offsets 0, 9, ..., 54 tokens


def q_jaccard_prefix_join_skew(spark, sf_dir):
    """PPJoin prefix-filtered exact Jaccard on a length-skewed corpus:
    each document reduced to a slice of 5 + doc_id % 45 whitespace
    tokens starting at offset 9·(doc_id % 7), so set sizes spread
    5..49 across staggered content windows and the lossless length
    filter (min/max >= t) plus the short t=0.8 prefixes prune hard —
    the regime the operator is FOR. Same operator as the adversarial
    anchor ``jaccard_prefix_join``."""
    from sparker_spark.entry import load
    from sparker_spark.llm.setjoin import SetSimilarityJoin

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"array_join(slice(split(text, '[ \\\\t\\\\r\\\\n\\\\f\\\\x0B]+'), "
            f"CAST(1 + (doc_id % {SETJOIN_SKEW_OFF_MOD}) * 9 AS INT), "
            f"CAST(5 + doc_id % {SETJOIN_SKEW_LEN_MOD} AS INT)), ' ')"
        ).alias("text"),
    )
    return SetSimilarityJoin.jaccard_prefix_join(docs, SETJOIN_SKEW_T)


O_JACCARD_PREFIX_SKEW = f"""
WITH corpus AS (
  SELECT doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(text, '[ \\t\\r\\n\\f\\x0B]+'),
                      CAST(1 + (doc_id % {SETJOIN_SKEW_OFF_MOD}) * 9
                           AS INTEGER),
                      CAST((doc_id % {SETJOIN_SKEW_OFF_MOD}) * 9
                           + 5 + doc_id % {SETJOIN_SKEW_LEN_MOD}
                           AS INTEGER)),
           ' ') AS text
  FROM documents),
toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+'),
                                  x -> len(x) > 0)) AS tok
        FROM corpus)),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS p1, b.doc_id AS p2, count(*) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p1, p2, CAST(inter AS BIGINT) AS inter,
       CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
       round(inter / (s1.n + s2.n - inter), 6) AS jaccard
FROM inter
JOIN sizes s1 ON p1 = s1.doc_id
JOIN sizes s2 ON p2 = s2.doc_id
WHERE inter / (s1.n + s2.n - inter) >= {SETJOIN_SKEW_T}"""


# ----------------------------------------- pretraining sequence packing
PACK_SEQ_LEN = 512  # power of two: the fill-ratio division is exact
PACK_SEP = 1


def q_pack_sequences(spark, sf_dir):
    """The concat-and-chunk pretraining packing plan under the
    VALUE-HASH gate: documents in doc_id order, one separator token
    per document, fixed 512-token sequences — every (sequence,
    document-slice) assignment value-checked. The Spark side computes
    the global running offset with ranking.global_cumsum (distributed
    prefix sums), the oracle with a plain windowed sum — identical
    integers, very different physical plans."""
    from sparker_spark.entry import load
    from sparker_spark.llm.packing import SequencePacking

    return SequencePacking.pack_plan(
        load(spark, sf_dir, "documents"),
        PACK_SEQ_LEN,
        sep_tokens=PACK_SEP,
    )


O_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\r\\n\\f\\x0B]+'),
                              x -> len(x) > 0)) AS BIGINT) AS n
  FROM documents),
offs AS (
  SELECT doc_id, n,
         CAST(sum(n + {PACK_SEP}) OVER (ORDER BY doc_id)
              - (n + {PACK_SEP}) AS BIGINT) AS off
  FROM toks),
spans AS (
  SELECT doc_id, n, off,
         CAST(unnest(generate_series(off // {PACK_SEQ_LEN},
                                     (off + n - 1) // {PACK_SEQ_LEN}))
          AS BIGINT) AS seq_id
  FROM offs WHERE n > 0)
SELECT seq_id, doc_id,
       greatest(CAST(0 AS BIGINT), seq_id * {PACK_SEQ_LEN} - off)
         AS tok_start,
       least(n, (seq_id + 1) * {PACK_SEQ_LEN} - off) AS tok_end,
       least(n, (seq_id + 1) * {PACK_SEQ_LEN} - off)
         - greatest(CAST(0 AS BIGINT), seq_id * {PACK_SEQ_LEN} - off)
         AS n_toks,
       greatest(CAST(0 AS BIGINT), off - seq_id * {PACK_SEQ_LEN})
         AS seq_pos
FROM spans"""


def q_pack_texts(spark, sf_dir):
    """The packed-sequence MATERIALIZER under the VALUE-HASH gate:
    the plan joined back to the tokenized text, slices assembled in
    seq_pos order with separators rendered at their reserved in-
    sequence positions — the (seq_id, text) relation a pretraining
    run hands to tokenization. Gate checks every byte of every packed
    sequence."""
    from sparker_spark.entry import load
    from sparker_spark.llm.packing import SequencePacking

    docs = load(spark, sf_dir, "documents")
    plan = SequencePacking.pack_plan(
        docs, PACK_SEQ_LEN, sep_tokens=PACK_SEP
    )
    return SequencePacking.pack_texts(
        docs, plan, PACK_SEQ_LEN, sep_tokens=PACK_SEP
    )


O_PACK_TEXTS = f"""
WITH plan AS ({O_PACK_SEQUENCES.strip()}),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \\t\\r\\n\\f\\x0B]+'),
                     x -> len(x) > 0) AS t
  FROM documents),
sliced AS (
  -- PACK_SEP = 1: the general render rule (min(sep_tokens, boundary
  -- room) separators per document-ending slice) reduces to one
  -- separator iff the slice's end is not flush with the sequence cut
  SELECT p.seq_id, p.seq_pos, p.n_toks,
         array_to_string(list_slice(t, CAST(p.tok_start + 1 AS INTEGER),
                                    CAST(p.tok_end AS INTEGER)), ' ')
           AS piece,
         p.tok_end = len(t)
           AND p.seq_pos + p.n_toks < {PACK_SEQ_LEN} AS ends_doc
  FROM plan p JOIN toks USING (doc_id))
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       string_agg(CASE WHEN ends_doc THEN piece || ' <|sep|>'
                       ELSE piece END, ' ' ORDER BY seq_pos) AS text
FROM sliced GROUP BY seq_id"""


def q_pack_fill_stats(spark, sf_dir):
    """Per-sequence packing fill report (docs per sequence, document
    tokens, fill ratio) over the same plan — the data-quality check a
    pretraining run does before writing sequences. seq_len is a power
    of two so the fill-ratio division is float-exact in both
    engines."""
    from sparker_spark.entry import load
    from sparker_spark.llm.packing import SequencePacking

    plan = SequencePacking.pack_plan(
        load(spark, sf_dir, "documents"),
        PACK_SEQ_LEN,
        sep_tokens=PACK_SEP,
    )
    return SequencePacking.pack_stats(plan, PACK_SEQ_LEN)


O_PACK_FILL_STATS = f"""
WITH plan AS ({O_PACK_SEQUENCES.strip()})
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_doc_tokens,
       CAST(sum(n_toks) AS DOUBLE) / {float(PACK_SEQ_LEN)} AS fill_ratio
FROM plan GROUP BY seq_id"""


def r7_queries() -> dict:
    return {
        "knn_label_vote_ivf": q_knn_label_vote_ivf,
        "jaccard_prefix_join_skew": q_jaccard_prefix_join_skew,
        "pack_sequences": q_pack_sequences,
        "pack_fill_stats": q_pack_fill_stats,
        "pack_texts": q_pack_texts,
    }


def r7_oracles() -> dict:
    from sparker_spark.entry_r6 import _o_knn_label_vote

    return {
        # full-probe IVF output == exact kNN output (see query doc)
        "knn_label_vote_ivf": _o_knn_label_vote(),
        "jaccard_prefix_join_skew": O_JACCARD_PREFIX_SKEW,
        "pack_sequences": O_PACK_SEQUENCES,
        "pack_fill_stats": O_PACK_FILL_STATS,
        "pack_texts": O_PACK_TEXTS,
    }
