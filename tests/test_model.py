"""Model unit tests: shapes, masking, Viterbi correctness, determinism,
and the distributed tagger end-to-end (golden-hash frozen)."""

import hashlib

import numpy as np
import pytest

from neuroner_spark.model import bilstm_crf as M
from neuroner_spark.model.weights import (
    END,
    LABELS,
    N_CLASSES,
    START,
    build_vocab,
    load_bundle,
    make_bundle,
    save_bundle,
)


def _bundle(vocab_tokens=("alpha", "beta", "gamma")):
    return make_bundle({t: i + 1 for i, t in enumerate(vocab_tokens)}, seed=42)


def test_weights_deterministic():
    b1, b2 = _bundle(), _bundle()
    for k in b1["arrays"]:
        assert np.array_equal(b1["arrays"][k], b2["arrays"][k])


def test_save_load_roundtrip(tmp_path):
    b = _bundle()
    save_bundle(b, str(tmp_path / "m"))
    b2 = load_bundle(str(tmp_path / "m"))
    for k in b["arrays"]:
        assert np.array_equal(b["arrays"][k], b2["arrays"][k])
    assert b2["vocab"] == b["vocab"] and b2["labels"] == b["labels"]


def test_selective_reload(tmp_path):
    b = _bundle()
    save_bundle(b, str(tmp_path / "m"))
    base = make_bundle({"alpha": 1, "beta": 2, "gamma": 3}, seed=7)
    merged = load_bundle(str(tmp_path / "m"), {"crf_transitions": False}, base)
    assert np.array_equal(merged["arrays"]["crf_transitions"], base["arrays"]["crf_transitions"])
    assert np.array_equal(merged["arrays"]["ff_W"], b["arrays"]["ff_W"])


def test_lstm_masking():
    """Padded steps must not change h_last."""
    rng = np.random.default_rng(0)
    W = rng.normal(0, 0.1, (4, 12)).astype(np.float32)
    U = rng.normal(0, 0.1, (3, 12)).astype(np.float32)
    b = np.zeros(12, dtype=np.float32)
    x_short = rng.normal(0, 1, (1, 2, 4)).astype(np.float32)
    x_padded = np.concatenate([x_short, rng.normal(0, 1, (1, 3, 4)).astype(np.float32)], axis=1)
    _, last_short = M._lstm(x_short, np.array([2]), W, U, b, 3)
    _, last_padded = M._lstm(x_padded, np.array([2]), W, U, b, 3)
    np.testing.assert_allclose(last_short, last_padded, rtol=1e-6)
    # reverse direction: padding after the length must not matter either
    _, rlast_short = M._lstm(x_short, np.array([2]), W, U, b, 3, reverse=True)
    _, rlast_padded = M._lstm(x_padded, np.array([2]), W, U, b, 3, reverse=True)
    np.testing.assert_allclose(rlast_short, rlast_padded, rtol=1e-6)


def _brute_viterbi(scores, trans):
    """Exhaustive best path for one sentence (small T, C)."""
    import itertools

    T_, C = scores.shape[0], N_CLASSES
    best, best_score = None, -np.inf
    for path in itertools.product(range(C), repeat=T_):
        s = trans[START, path[0]] + scores[0, path[0]]
        for t in range(1, T_):
            s += trans[path[t - 1], path[t]] + scores[t, path[t]]
        s += trans[path[-1], END]
        if s > best_score:
            best_score, best = s, path
    return list(best)


def test_viterbi_matches_bruteforce():
    rng = np.random.default_rng(3)
    # tiny label space for brute force: zero out all but first 3 classes
    trans = rng.normal(0, 1, (N_CLASSES + 2, N_CLASSES + 2)).astype(np.float32)
    for T_ in (1, 2, 3):
        scores = np.full((1, T_, N_CLASSES + 2), -1e30, dtype=np.float32)
        scores[0, :, :3] = rng.normal(0, 1, (T_, 3)).astype(np.float32)
        got = M.viterbi_decode(scores, np.array([T_]), trans)[0, :T_].tolist()
        want = _brute_viterbi(scores[0], trans)
        assert got == want


def test_viterbi_batch_equals_single():
    """Batched DP must equal per-sentence decodes (incl. ragged lengths)."""
    rng = np.random.default_rng(5)
    trans = rng.normal(0, 1, (N_CLASSES + 2, N_CLASSES + 2)).astype(np.float32)
    lengths = np.array([3, 1, 5, 2])
    scores = rng.normal(0, 1, (4, 5, N_CLASSES + 2)).astype(np.float32)
    batch = M.viterbi_decode(scores, lengths, trans)
    for b in range(4):
        L = lengths[b]
        single = M.viterbi_decode(scores[b : b + 1, :L], np.array([L]), trans)
        assert batch[b, :L].tolist() == single[0, :L].tolist()


def test_forward_batch_invariance():
    """Same sentence alone vs inside a ragged batch -> same scores."""
    b = _bundle()
    tok = np.array([[1, 2, 3]])
    chars = np.zeros((1, 3, 20), dtype=np.int64)
    chars[0, :, 0] = [97, 98, 99]
    wl = np.array([[1, 1, 1]])
    s_single = M.forward_scores(tok, chars, np.array([3]), wl, b["arrays"])
    tok2 = np.zeros((2, 5), dtype=np.int64)
    tok2[0, :3] = [1, 2, 3]
    chars2 = np.zeros((2, 5, 20), dtype=np.int64)
    chars2[0, :3, 0] = [97, 98, 99]
    wl2 = np.zeros((2, 5), dtype=np.int64)
    wl2[0, :3] = 1
    s_batch = M.forward_scores(tok2, chars2, np.array([3, 0]), wl2, b["arrays"])
    np.testing.assert_allclose(s_single[0], s_batch[0, :3], rtol=1e-5, atol=1e-6)


def test_tagger_end_to_end(spark):
    """Distributed tag over the pages fixture: deterministic output,
    stable across two runs, valid schema, full coverage."""
    from neuroner_spark.fixtures.gen import pages_df
    from neuroner_spark.functions.normalize import normalize_whitespace
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.tagger import tag_tokens
    from pyspark.sql import functions as F

    pages = pages_df(spark, 60).select(
        F.col("url").alias("doc_id"), normalize_whitespace(F.col("text")).alias("text")
    )
    tokens = tokenize(pages)
    vocab = build_vocab([r["token"] for r in tokens.select("token").collect()])
    bundle = make_bundle(vocab, seed=42)
    tagged = tag_tokens(spark, tokens, bundle, n_partitions=8)
    rows = tagged.orderBy("doc_id", "sent_id", "pos").collect()
    assert len(rows) == tokens.count()
    assert all(r["label"] in LABELS for r in rows)
    # determinism: second run identical
    rows2 = tag_tokens(spark, tokens, bundle, n_partitions=4).orderBy(
        "doc_id", "sent_id", "pos"
    ).collect()
    assert [r["label"] for r in rows] == [r["label"] for r in rows2]
    digest = hashlib.md5(
        "|".join(f"{r['doc_id']}:{r['sent_id']}:{r['pos']}:{r['label']}" for r in rows).encode()
    ).hexdigest()
    # Golden frozen from seed-42 weights over the 60-page fixture
    # (reference-style pretrained-model regression, src/unit_tests.py).
    assert digest == "bf1f8bf100ddd53c0cf0162604b47a93"


def test_argmax_decode_no_crf():
    """O2: no-CRF per-token argmax path."""
    rng = np.random.default_rng(9)
    scores = rng.normal(0, 1, (3, 4, N_CLASSES + 2)).astype(np.float32)
    lengths = np.array([4, 2, 0])
    out = M.argmax_decode(scores, lengths)
    assert out.shape == (3, 4)
    assert (out[1, 2:] == 0).all() and (out[2] == 0).all()
    for b, t in [(0, 0), (0, 3), (1, 1)]:
        assert out[b, t] == scores[b, t, :N_CLASSES].argmax()


def test_tagger_no_crf_runs(spark):
    from neuroner_spark.fixtures.gen import pages_df
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.tagger import tag_tokens
    from pyspark.sql import functions as F

    pages = pages_df(spark, 20).select(F.col("url").alias("doc_id"), "text")
    tokens = tokenize(pages)
    vocab = build_vocab([r["token"] for r in tokens.select("token").collect()])
    bundle = make_bundle(vocab, seed=42)
    crf = tag_tokens(spark, tokens, bundle, n_partitions=4, use_crf=True).collect()
    nocrf = tag_tokens(spark, tokens, bundle, n_partitions=4, use_crf=False).collect()
    assert len(crf) == len(nocrf) > 0
    # the two decoders genuinely differ somewhere on random weights
    c = {(r["doc_id"], r["sent_id"], r["pos"]): r["label"] for r in crf}
    n = {(r["doc_id"], r["sent_id"], r["pos"]): r["label"] for r in nocrf}
    assert any(c[k] != n[k] for k in c)


def test_hashed_vocab_mode(spark, tmp_path):
    """Feature-hashed encoder: no vocabulary collect (100 TB mode)."""
    from neuroner_spark.fixtures.gen import pages_df
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.tagger import tag_tokens
    from pyspark.sql import functions as F

    pages = pages_df(spark, 20).select(F.col("url").alias("doc_id"), "text")
    tokens = tokenize(pages)
    bundle = make_bundle(4096, seed=42)  # int -> hashed mode
    assert bundle["vocab"] is None and bundle["vocab_size"] == 4096
    out1 = tag_tokens(spark, tokens, bundle, n_partitions=4).orderBy(
        "doc_id", "sent_id", "pos"
    ).collect()
    out2 = tag_tokens(spark, tokens, bundle, n_partitions=2).orderBy(
        "doc_id", "sent_id", "pos"
    ).collect()
    assert len(out1) == tokens.count() > 0
    assert [r["label"] for r in out1] == [r["label"] for r in out2]
    digest = hashlib.md5(
        "|".join(f"{r['doc_id']}:{r['sent_id']}:{r['pos']}:{r['label']}" for r in out1).encode()
    ).hexdigest()
    assert digest == "18ace5f8dc3787496e52875c04e092f1"  # frozen golden (hashed mode)
    # save/load round-trips hashed mode
    save_bundle(bundle, str(tmp_path / "hm"))
    b2 = load_bundle(str(tmp_path / "hm"))
    assert b2["vocab"] is None and b2["vocab_size"] == 4096


def test_neural_tag_spans_golden_hash(spark):
    """The driver's rows-only neural query gains a VALUE check here: a
    frozen order-insensitive hash of its full sf0.01 output (verified
    identical across 4- and 8-core runs when frozen).  Also pins the
    query's collect-free contract: hashed vocab, no driver-side
    vocabulary build."""
    from neuroner_spark.plans.catalog_kg import q_neural_tag_spans

    df = q_neural_tag_spans(spark, "/root/testdata/sf0.01")
    rows = sorted(
        (r["doc_id"], r["type"], r["start"], r["end"], r["n_tokens"]) for r in df.collect()
    )
    assert len(rows) == 15597
    digest = hashlib.md5(
        "\n".join("|".join(map(str, r)) for r in rows).encode()
    ).hexdigest()
    assert digest == "1aaf2e64b60f9ada281711a0c2e8801f"


def test_salted_repartition_defuses_giant_doc_skew(spark):
    """north_rule skew: one pathological doc (2000 sentences) must not
    hot-spot one partition after the salted repartition."""
    from neuroner_spark.model.tagger import sentences_from_tokens
    from pyspark.sql import functions as F

    rows = []
    for s in range(2000):  # one giant doc
        for p in range(5):
            rows.append(("giant", s, p, f"t{p}", p, p + 1))
    for d in range(100):  # plus small docs
        rows.append((f"d{d}", 0, 0, "x", 0, 1))
    tokens = spark.createDataFrame(
        rows, "doc_id string, sent_id long, pos int, token string, start long, end long"
    )
    sents = sentences_from_tokens(tokens).repartition(8, F.xxhash64("doc_id", "sent_id"))
    hist = (
        sents.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    counts = [r["count"] for r in hist]
    assert len(counts) == 8
    mean = sum(counts) / len(counts)
    assert max(counts) <= 2 * mean, counts
    # contrast: partitioning by doc_id alone WOULD hot-spot (the giant
    # doc lands in a single partition)
    by_doc = sentences_from_tokens(tokens).repartition(8, F.col("doc_id"))
    worst = max(r["count"] for r in by_doc.groupBy(F.spark_partition_id()).count().collect())
    assert worst >= 2000


def test_tagger_bioes_validation_gate(spark):
    """P5 gate (reference P4-style hard fail): validate=True passes on
    well-formed output and raises on ill-formed label sequences."""
    import numpy as np
    import pytest

    from neuroner_spark.model.tagger import tag_tokens
    from neuroner_spark.model.weights import LABELS, make_bundle

    tokens = spark.createDataFrame(
        [("d1", 0, i, t, i, i + 1) for i, t in enumerate(["alpha", "beta", "gamma"])],
        "doc_id string, sent_id long, pos int, token string, start long, end long",
    )
    bundle = make_bundle({"alpha": 1, "beta": 2, "gamma": 3}, seed=42)

    def biased(label: str) -> dict:
        b = dict(bundle, arrays={k: v.copy() for k, v in bundle["arrays"].items()})
        out_b = b["arrays"]["out_b"]
        out_b[:] = -10.0
        out_b[LABELS.index(label)] = 10.0
        b["arrays"]["crf_transitions"] = np.zeros_like(b["arrays"]["crf_transitions"])
        return b

    # all-O output is trivially well-formed -> gate passes
    ok = tag_tokens(spark, tokens, biased("O"), n_partitions=2, validate=True)
    assert ok.count() == 3
    # all-I-PER output violates continuation_without_begin -> gate raises
    with pytest.raises(ValueError, match="ill-formed BIOES"):
        tag_tokens(spark, tokens, biased("I-PER"), n_partitions=2, validate=True)


def test_crf_loss_grad_bruteforce_and_finite_diff():
    """crf_loss_grad == brute-force path enumeration (logZ + gold
    score) and finite-difference gradients, start/end augmented."""
    from itertools import product

    import numpy as np

    from neuroner_spark.model.bilstm_crf import crf_loss_grad
    from neuroner_spark.model.weights import END, N_CLASSES, START

    rng = np.random.default_rng(3)
    C, S = N_CLASSES, N_CLASSES + 2
    B, T = 2, 3
    scores = rng.normal(0, 1, (B, T, S))
    trans = rng.normal(0, 1, (S, S))
    lengths = np.array([3, 2])
    gold = rng.integers(0, C, (B, T))

    def path_score(b, path):
        s = trans[START, path[0]] + scores[b, 0, path[0]]
        for t in range(1, len(path)):
            s += trans[path[t - 1], path[t]] + scores[b, t, path[t]]
        return s + trans[path[-1], END]

    loss, d_sc, d_tr = crf_loss_grad(scores, lengths, gold, trans)
    loss_bf = 0.0
    for b in range(B):
        sc = [path_score(b, p) for p in product(range(C), repeat=int(lengths[b]))]
        m = max(sc)
        logZ = m + np.log(sum(np.exp(s - m) for s in sc))
        loss_bf += logZ - path_score(b, list(gold[b, : lengths[b]]))
    assert abs(loss - loss_bf) < 1e-8
    eps = 1e-6
    for _ in range(8):
        b, t, c = rng.integers(B), rng.integers(T), rng.integers(S)
        up, dn = scores.copy(), scores.copy()
        up[b, t, c] += eps
        dn[b, t, c] -= eps
        num = (crf_loss_grad(up, lengths, gold, trans)[0] - crf_loss_grad(dn, lengths, gold, trans)[0]) / (2 * eps)
        assert abs(num - d_sc[b, t, c]) < 1e-5
    for _ in range(8):
        a, b2 = rng.integers(S), rng.integers(S)
        up, dn = trans.copy(), trans.copy()
        up[a, b2] += eps
        dn[a, b2] -= eps
        num = (crf_loss_grad(scores, lengths, gold, up)[0] - crf_loss_grad(scores, lengths, gold, dn)[0]) / (2 * eps)
        assert abs(num - d_tr[a, b2]) < 1e-5


def test_char_encoder_gradient_check():
    """Finite-difference check of the char Bi-LSTM BPTT (last-state
    gradient injection + char-embedding scatter) in float64."""
    import numpy as np

    from neuroner_spark.model.bilstm_crf import (
        char_encode,
        char_encode_backward,
        char_encode_cache,
    )
    from neuroner_spark.model.weights import make_bundle

    rng = np.random.default_rng(1)
    bundle = make_bundle({"a": 1}, seed=5)
    arrays = {k: v.astype(np.float64) for k, v in bundle["arrays"].items()}
    N, W = 4, 6
    char_ids = rng.integers(1, 128, size=(N, W))
    wl = np.array([6, 3, 1, 5])
    R = rng.normal(size=(N, 50))

    def loss(arr):
        feat, _ = char_encode_cache(char_ids, wl, arr)
        return float((feat * R).sum())

    feat, cache = char_encode_cache(char_ids, wl, arrays)
    assert np.allclose(feat, char_encode(char_ids, wl, bundle["arrays"]), atol=1e-4)
    grads = char_encode_backward(R, cache, arrays)
    eps = 1e-6
    for name, g in grads.items():
        for fi in rng.choice(g.size, size=6, replace=False):
            ij = np.unravel_index(fi, g.shape)
            up = arrays[name].copy()
            up[ij] += eps
            dn = arrays[name].copy()
            dn[ij] -= eps
            num = (loss({**arrays, name: up}) - loss({**arrays, name: dn})) / (2 * eps)
            assert abs(num - g[ij]) <= 1e-5 * max(1.0, abs(num)), (name, ij, num, g[ij])


def _ragged_batch(rng, lengths, W=6, vocab=4):
    """Random padded inputs for ``lengths`` (any order): token ids,
    char ids, chars per word (some words empty) and char features."""
    B, T = len(lengths), int(max(lengths))
    tok = rng.integers(0, vocab, (B, T))
    chars = rng.integers(1, 128, (B, T, W))
    wl = rng.integers(0, W + 1, (B, T))
    wl[0, 0] = 0  # an empty word inside a real sentence
    char_feat = rng.normal(0, 0.5, (B, T, 50)).astype(np.float32)
    return tok, chars, wl, char_feat


def test_packed_forward_equals_per_sentence():
    """Packed inference over an unsorted ragged batch (with an empty
    sentence and empty words) equals each sentence run alone, and
    decodes to the same labels."""
    b = _bundle()
    arrays = b["arrays"]
    rng = np.random.default_rng(11)
    lengths = np.array([3, 7, 0, 1, 7, 4])
    tok, chars, wl, _ = _ragged_batch(rng, lengths)
    batch = M.forward_scores(tok, chars, lengths, wl, arrays)
    pred = M.viterbi_decode(batch, lengths, arrays["crf_transitions"])
    for i, L in enumerate(lengths):
        if L == 0:
            continue
        single = M.forward_scores(tok[i : i + 1, :L], chars[i : i + 1, :L], lengths[i : i + 1], wl[i : i + 1, :L], arrays)
        np.testing.assert_allclose(batch[i, :L], single[0], rtol=1e-5, atol=1e-6)
        want = M.viterbi_decode(single, lengths[i : i + 1], arrays["crf_transitions"])
        assert pred[i, :L].tolist() == want[0].tolist()
    # an empty word encodes to zeros in both directions
    assert not M.char_encode(chars[0, :1], np.array([0]), arrays).any()


def test_forward_features_padding_is_tanh_ff_b():
    """Padded positions of the packed inference features hold exactly
    tanh(ff_b), the value of a zero hidden state; real positions match
    the padded, masked training forward."""
    b = _bundle()
    arrays = b["arrays"]
    rng = np.random.default_rng(12)
    lengths = np.array([2, 5, 0, 4])
    tok, _, _, char_feat = _ragged_batch(rng, lengths)
    ff = M.forward_features(tok, char_feat, lengths, arrays)
    pad = np.arange(ff.shape[1])[None, :] >= lengths[:, None]
    assert pad.sum() == 9
    assert (ff[pad] == np.tanh(arrays["ff_b"])).all()
    ref, _ = M.forward_features_cache(tok, char_feat, lengths, arrays)
    np.testing.assert_allclose(ff[~pad], ref[~pad], rtol=1e-5, atol=1e-6)


def test_tag_tokens_two_tasks_per_core(spark):
    """The tagger stage defaults to two partitions (Python tasks) per
    core, and its labels do not depend on the partition count."""
    from neuroner_spark.fixtures.gen import pages_df
    from neuroner_spark.functions.normalize import normalize_whitespace
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.tagger import tag_tokens
    from pyspark.sql import functions as F

    pages = pages_df(spark, 60).select(
        F.col("url").alias("doc_id"), normalize_whitespace(F.col("text")).alias("text")
    )
    tokens = tokenize(pages)
    bundle = make_bundle(build_vocab([r["token"] for r in tokens.select("token").collect()]), seed=42)
    tagged = tag_tokens(spark, tokens, bundle)
    assert tagged.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism

    def labels(df):
        return [r["label"] for r in df.orderBy("doc_id", "sent_id", "pos").collect()]

    got = labels(tagged)
    assert len(got) == tokens.count()
    assert got == labels(tag_tokens(spark, tokens, bundle, n_partitions=1))
