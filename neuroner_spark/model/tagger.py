"""Distributed BiLSTM-CRF tagging as ONE Arrow-batched mapInPandas
stage (SURVEY.md D1 — the core operator).

Reference parity: ``src/train.py :: prediction_step`` feeds the TF
graph one sentence at a time (batch size 1).  Here:

- Sentences are assembled JVM-side (groupBy + sort_array(collect_list)
  then split into parallel ``pos/token/start/end`` arrays) — one
  shuffle keyed by (doc_id, sent_id).
- A **salted repartition** on xxhash64(doc_id, sent_id) spreads the
  sentences of huge documents / hot hosts uniformly before the Python
  stage (north_rule skew handling: AQE fixes join skew, NOT UDF-stage
  skew — the salt is mandatory at 10^12 pages).
- Inside the UDF each Arrow batch (thousands of sentences) is sorted
  by length and cut into sub-batches.  The forward pass packs each
  sub-batch time-major and computes real tokens only, never padding
  (``bilstm_crf._pack``); encoding and output assembly are
  numpy-vectorized (the only per-token Python is a ``len()`` sweep and
  one pandas ``map`` for vocab lookup).

Char encoding trick: tokens -> fixed-width ``U<W>`` numpy array ->
``view(uint32)`` gives the [N, W] codepoint matrix with zero padding,
no per-char loop.
"""

from __future__ import annotations

import threading
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neuroner_spark.model.bilstm_crf import (
    argmax_decode,
    char_encode,
    forward_scores_feat,
    viterbi_decode,
)

MAX_WORD_LEN = 20
SUB_BATCH = 512

TAGGED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sent_id", T.LongType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)


def _encode_flat(
    flat_tokens: np.ndarray,
    lengths: np.ndarray,
    lookup_unique,
    arrays,
    return_char_ctx: bool = False,
):
    """Vectorized encode: flat token array (all sentences concatenated)
    + per-sentence lengths -> (token_ids [B,T], char_feat [B,T,50],
    row_idx, col_idx).

    Char features are computed ONCE PER UNIQUE WORD (the char Bi-LSTM
    is a pure function of the surface) and scattered back — on Zipf
    web text this removes ~99% of the char-LSTM flops vs encoding every
    occurrence, with bit-identical results.

    ``return_char_ctx=True`` (training path) additionally returns the
    char-encoder context {inv, cache} so gradients per occurrence can
    be summed back per unique word and BPTT'd through the char LSTM.
    """
    B = len(lengths)
    Tmax = max(1, int(lengths.max()) if B else 1)
    N = len(flat_tokens)
    row_idx = np.repeat(np.arange(B), lengths)
    offsets = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    col_idx = np.arange(N) - np.repeat(offsets, lengths)

    # unique words once: vocab lookup AND char encoding both depend only
    # on the surface, so both run per-unique-token and scatter back
    uniq, inv = np.unique(flat_tokens.astype("U"), return_inverse=True)
    ids_u = lookup_unique(uniq)
    token_ids = np.zeros((B, Tmax), dtype=np.int64)
    token_ids[row_idx, col_idx] = ids_u[inv]
    u = uniq.astype(f"U{MAX_WORD_LEN}")
    wl_u = np.char.str_len(u).astype(np.int64)  # = min(len(tok), W)
    W_eff = max(1, int(wl_u.max()) if len(wl_u) else 1)
    codes = u.view(np.uint32).reshape(len(u), MAX_WORD_LEN).astype(np.int64)[:, :W_eff]
    codes[codes >= 128] = 0  # non-ascii -> padding/unk char (reference UNK char idx 0)
    char_ctx = None
    if return_char_ctx:
        from neuroner_spark.model.bilstm_crf import char_encode_cache

        feat_u, cc = char_encode_cache(codes, wl_u, arrays)
        char_ctx = {"inv": inv, "cache": cc}
    else:
        feat_u = char_encode(codes, wl_u, arrays)  # [U, 50]
    char_feat = np.zeros((B, Tmax, feat_u.shape[1]), dtype=np.float32)
    char_feat[row_idx, col_idx] = feat_u[inv]
    if return_char_ctx:
        return token_ids, char_feat, row_idx, col_idx, char_ctx
    return token_ids, char_feat, row_idx, col_idx


def make_tag_fn(bundle_bc, use_crf: bool = True):
    """mapInPandas fn over sentence rows
    (doc_id, sent_id, pos_arr, token_arr, start_arr, end_arr).
    use_crf=False -> per-token argmax (reference's no-CRF mode)."""

    def tag_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bundle = bundle_bc.value
        arrays, vocab = bundle["arrays"], bundle["vocab"]
        labels_arr = np.asarray(bundle["labels"] + ["O", "O"], dtype=object)
        if vocab is None:
            # feature-hashed mode: no vocabulary at all (collect-free
            # encoder for 10^12-doc corpora); stable across processes
            import zlib

            n = bundle["vocab_size"]

            def vmap(uniq):
                return np.fromiter(
                    (zlib.crc32(t.encode("utf-8")) % (n - 1) + 1 for t in uniq),
                    dtype=np.int64,
                    count=len(uniq),
                )

        else:
            vocab_s = pd.Series(vocab)

            def vmap(uniq):
                s = pd.Series(uniq, dtype=object).map(vocab_s)
                return s.fillna(0).to_numpy(dtype=np.int64)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            tok_lists = pdf["token_arr"].to_numpy()
            lens = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=len(tok_lists))
            order = np.argsort(lens, kind="stable")
            outs = []
            for s0 in range(0, len(order), SUB_BATCH):
                idx = order[s0 : s0 + SUB_BATCH]
                lengths = lens[idx]
                keep = lengths > 0
                idx, lengths = idx[keep], lengths[keep]
                if len(idx) == 0:
                    continue
                flat_tokens = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists[idx]])
                token_ids, char_feat, row_idx, col_idx = _encode_flat(
                    flat_tokens, lengths, vmap, arrays
                )
                scores = forward_scores_feat(token_ids, char_feat, lengths, arrays)
                if use_crf:
                    pred = viterbi_decode(scores, lengths, arrays["crf_transitions"])
                else:
                    pred = argmax_decode(scores, lengths)
                out = pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].to_numpy()[idx], lengths),
                        "sent_id": np.repeat(pdf["sent_id"].to_numpy()[idx], lengths),
                        "pos": np.concatenate(pdf["pos_arr"].to_numpy()[idx]).astype(np.int32),
                        "token": flat_tokens,
                        "start": np.concatenate(pdf["start_arr"].to_numpy()[idx]).astype(np.int64),
                        "end": np.concatenate(pdf["end_arr"].to_numpy()[idx]).astype(np.int64),
                        "label": labels_arr[pred[row_idx, col_idx]],
                    }
                )
                outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return tag_batches


def sentences_from_tokens(tokens: DataFrame) -> DataFrame:
    """tokens -> one row per sentence with parallel arrays (JVM-side)."""
    return (
        tokens.groupBy("doc_id", "sent_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "token", "start", "end"))).alias("_t")
        )
        .select(
            "doc_id",
            "sent_id",
            F.transform("_t", lambda x: x["pos"]).alias("pos_arr"),
            F.transform("_t", lambda x: x["token"]).alias("token_arr"),
            F.transform("_t", lambda x: x["start"]).alias("start_arr"),
            F.transform("_t", lambda x: x["end"]).alias("end_arr"),
        )
    )


# the model broadcast of the process's SparkContext, kept for the next
# call with the same bundle: (SparkContext, bundle, Broadcast)
_bundle_bc: tuple | None = None
_bundle_bc_lock = threading.Lock()


def _broadcast_bundle(sc, bundle: dict):
    """One broadcast per bundle object per SparkContext.  A different
    bundle unpersists the previous broadcast (executors drop their
    copies) without destroying it: lazy frames built on it may still
    run, and re-fetch it from the driver."""
    global _bundle_bc
    with _bundle_bc_lock:
        if _bundle_bc is not None and _bundle_bc[0] is sc:
            if _bundle_bc[1] is bundle:
                return _bundle_bc[2]
            _bundle_bc[2].unpersist()
        _bundle_bc = (sc, bundle, sc.broadcast(bundle))
        return _bundle_bc[2]


def tag_tokens(
    spark: SparkSession,
    tokens: DataFrame,
    bundle: dict,
    n_partitions: int | None = None,
    use_crf: bool = True,
    validate: bool = False,
) -> DataFrame:
    """tokens(doc_id, sent_id, pos, token, start, end) ->
    tagged(..., label) — BIOES labels from the broadcast model.

    ``validate=True`` is the P5 gate (reference hard-fails on its P4
    invariant the same way): the tagged output is materialized via
    localCheckpoint, BIOES well-formedness is asserted, and the job
    raises on any violation instead of emitting malformed spans.

    ``bundle`` is treated as immutable: the model is broadcast once per
    bundle object and reused while the same object comes back, so a
    caller that changes weights builds a new bundle (training and the
    tests copy the arrays first) instead of editing this one in place.
    """
    sentences = sentences_from_tokens(tokens)
    if n_partitions is None:
        # two Python tasks per core: with no fixed per-task cost left
        # (worker_daemon stops the zip directory re-read each task paid),
        # two per core tagged more tokens per CPU-second than one on a
        # 4-core box (5 of 6 seeds, median +13%)
        n_partitions = 2 * spark.sparkContext.defaultParallelism
    # salt on the sentence key: sentences of one huge doc (hot host)
    # spread across ALL partitions instead of hot-spotting one task.
    # Kept as a SECOND exchange deliberately (r7 measured the
    # alternative): pre-sharding the raw tokens by (doc_id, sent_id)
    # to feed the groupBy from one exchange shuffles ~100x more rows
    # (every token, vs the partial-collect_list-compacted sentence
    # rows here) and benched consistently slower at sf0.1; the
    # assembled-sentence shuffle is row-count-cheap.
    salted = sentences.repartition(n_partitions, F.xxhash64("doc_id", "sent_id"))
    bundle_bc = _broadcast_bundle(spark.sparkContext, bundle)
    tagged = salted.mapInPandas(make_tag_fn(bundle_bc, use_crf), schema=TAGGED_SCHEMA)
    if validate:
        from neuroner_spark.functions.tags import bioes_violations

        tagged = tagged.localCheckpoint()  # one tagger pass feeds gate + consumers
        n_bad = bioes_violations(tagged, label_col="label").count()
        if n_bad > 0:
            raise ValueError(f"tagger emitted {n_bad} ill-formed BIOES labels")
    return tagged
