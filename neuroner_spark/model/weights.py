"""Deterministic model weight bundle (SURVEY.md §1 row 7, FIXTURES.md §6).

Reference parity: the TF variable set of ``src/entity_lstm.py ::
EntityLSTM.__init__`` (char-BiLSTM 25, token-BiLSTM 100, FF 100, CRF
transitions (C+2)x(C+2) with start/end augmentation) and its
checkpoint/restore cycle (``src/neuroner.py :: fit`` / ``
prepare_pretrained_model.py``).  We have no TF and no GloVe download in
the sandbox, so weights are a pure function of a seed
(``np.random.default_rng(seed).normal(0, 0.1, shape)`` in a pinned
order) — the golden-output tests freeze the tagger's behavior under
seed 42.

The bundle's size is mostly ``token_emb`` (vocab size x 100 float32;
26 MB for the hashed ``1 << 16`` vocabulary).  ``tag_tokens``
broadcasts it once per bundle per SparkContext, and the Arrow-batched
tagger UDF reads it there.  ``save``/``load`` give the K4-style
checkpoint analog (.npz + JSON sidecars).
"""

from __future__ import annotations

import json
import os

import numpy as np

ENTITY_TYPES = ["PER", "ORG", "LOC", "MISC"]
# BIOES labels: 4 prefixes x 4 types + O = 17 classes; +2 CRF states.
LABELS = [f"{p}-{t}" for t in ENTITY_TYPES for p in ("B", "I", "E", "S")] + ["O"]
N_CLASSES = len(LABELS)  # 17
START = N_CLASSES  # 17
END = N_CLASSES + 1  # 18

CHAR_DIM = 25
CHAR_HIDDEN = 25
TOKEN_DIM = 100
TOKEN_HIDDEN = 100
FF_DIM = 100
ALPHABET = 128  # ascii codepoints; others -> 0 (PADDING/UNK char)

# (name, shape) in pinned generation order — the order IS the contract.
def _shapes(vocab_size: int):
    tin = TOKEN_DIM + 2 * CHAR_HIDDEN  # token-LSTM input: emb + char fw/bw
    return [
        ("char_emb", (ALPHABET, CHAR_DIM)),
        ("char_lstm_fw_W", (CHAR_DIM, 4 * CHAR_HIDDEN)),
        ("char_lstm_fw_U", (CHAR_HIDDEN, 4 * CHAR_HIDDEN)),
        ("char_lstm_fw_b", (4 * CHAR_HIDDEN,)),
        ("char_lstm_bw_W", (CHAR_DIM, 4 * CHAR_HIDDEN)),
        ("char_lstm_bw_U", (CHAR_HIDDEN, 4 * CHAR_HIDDEN)),
        ("char_lstm_bw_b", (4 * CHAR_HIDDEN,)),
        ("token_emb", (vocab_size, TOKEN_DIM)),
        ("token_lstm_fw_W", (tin, 4 * TOKEN_HIDDEN)),
        ("token_lstm_fw_U", (TOKEN_HIDDEN, 4 * TOKEN_HIDDEN)),
        ("token_lstm_fw_b", (4 * TOKEN_HIDDEN,)),
        ("token_lstm_bw_W", (tin, 4 * TOKEN_HIDDEN)),
        ("token_lstm_bw_U", (TOKEN_HIDDEN, 4 * TOKEN_HIDDEN)),
        ("token_lstm_bw_b", (4 * TOKEN_HIDDEN,)),
        ("ff_W", (2 * TOKEN_HIDDEN, FF_DIM)),
        ("ff_b", (FF_DIM,)),
        ("out_W", (FF_DIM, N_CLASSES + 2)),
        ("out_b", (N_CLASSES + 2,)),
        ("crf_transitions", (N_CLASSES + 2, N_CLASSES + 2)),
    ]


def make_bundle(vocab: dict[str, int] | int, seed: int = 42) -> dict:
    """Deterministic weights + vocab + labels.

    vocab: token->index dict (index 0 reserved for UNK, reference
    UNK_TOKEN_INDEX=0), or an int for FEATURE-HASHED mode — at 10^12
    docs there is no driver-side vocabulary collect; tokens map to
    ``crc32(token) % (n-1) + 1`` and the embedding table has a fixed
    ``n`` rows. Hashed mode trades rare-token collisions for a
    completely shuffle-free, collect-free encoder."""
    rng = np.random.default_rng(seed)
    if isinstance(vocab, int):
        vocab_size, vocab_map = vocab, None
    else:
        vocab_size, vocab_map = len(vocab) + 1, dict(vocab)
    arrays = {
        name: rng.normal(0, 0.1, shape).astype(np.float32)
        for name, shape in _shapes(vocab_size)
    }
    return {"arrays": arrays, "vocab": vocab_map, "vocab_size": vocab_size, "labels": list(LABELS)}


def build_vocab(tokens: list[str]) -> dict[str, int]:
    """Frequency-then-lexicographic vocab (reference O1 ordering:
    ``src/utils.py :: order_dictionary``); ids start at 1 (0 = UNK)."""
    from collections import Counter

    counts = Counter(tokens)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return {tok: i + 1 for i, (tok, _) in enumerate(ordered)}


def save_bundle(bundle: dict, path: str) -> None:
    """K4-analog checkpoint: .npz + vocab/labels JSON sidecars."""
    os.makedirs(path, exist_ok=True)
    np.savez(os.path.join(path, "weights.npz"), **bundle["arrays"])
    with open(os.path.join(path, "vocab.json"), "w") as f:
        json.dump(bundle["vocab"], f)
    with open(os.path.join(path, "labels.json"), "w") as f:
        json.dump(bundle["labels"], f)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"vocab_size": bundle.get("vocab_size")}, f)


def load_bundle(path: str, reload_flags: dict | None = None, base: dict | None = None) -> dict:
    """Load a bundle; ``reload_flags`` mirrors the reference's selective
    restore (``entity_lstm.py :: restore_from_pretrained_model``):
    {array_name: False} keeps ``base``'s array instead."""
    with np.load(os.path.join(path, "weights.npz")) as z:
        arrays = {k: z[k] for k in z.files}
    if reload_flags and base:
        for name, reload in reload_flags.items():
            if not reload and name in base["arrays"]:
                arrays[name] = base["arrays"][name]
    with open(os.path.join(path, "vocab.json")) as f:
        vocab = json.load(f)
    with open(os.path.join(path, "labels.json")) as f:
        labels = json.load(f)
    meta_path = os.path.join(path, "meta.json")
    vocab_size = None
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            vocab_size = json.load(f).get("vocab_size")
    if vocab_size is None:
        vocab_size = (len(vocab) + 1) if vocab else arrays["token_emb"].shape[0]
    return {"arrays": arrays, "vocab": vocab, "vocab_size": vocab_size, "labels": labels}
