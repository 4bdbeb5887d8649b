"""Batched numpy BiLSTM-CRF forward + Viterbi decode (SURVEY.md F7/W6).

Reference parity: ``src/entity_lstm.py`` builds the same network in TF
(char Bi-LSTM 25 → concat token embedding 100 → token Bi-LSTM 100 →
tanh FF 100 → class scores C+2 → CRF) and decodes with
``tf.contrib.crf.viterbi_decode`` one sentence at a time
(``src/train.py :: prediction_step``).  The reference's batch size is
1; this module is the engine's main perf win: every op is batched
across ALL sentences in an Arrow batch, and every loop runs over time
only — never over sentences.

Inference takes padded [B,T,...] arrays but computes real tokens only.
``_pack`` orders the sentences longest first and lays the N real
tokens out time-major, so the rows still running at step t are a
prefix of length n_t.  The input projection, the FF layer and the
output layer are one [N,·] matmul each; each recurrent step runs on
its n_t active rows; the scores are scattered back to [B,T,C+2] once
for the Viterbi DP.  The char encoder runs the same packed recurrence
over the characters of each word.  Training's BPTT (``_lstm_cache``)
stays padded and masked.

Pure numpy, no Spark imports — unit-testable in isolation and callable
from the mapInPandas tagger (model/tagger.py).
"""

from __future__ import annotations

import numpy as np

from neuroner_spark.model.weights import END, N_CLASSES, START


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _pack(lengths):
    """Time-major packed layout of a ragged batch (PyTorch's
    ``PackedSequence``): rows ordered longest first, so the rows still
    running at step t are a prefix of length n_t, and step t's packed
    slots are ``[start_t, start_t + n_t)`` in that order.

    lengths: [B] int, any order, zeros allowed.  Returns (rows, cols,
    steps): packed slot k holds padded position (rows[k], cols[k]), and
    steps is the list of (start_t, n_t) for t = 0..max(lengths)-1.
    Computed once per batch and shared by both directions and the
    layers above them.
    """
    lengths = np.asarray(lengths, dtype=np.int64)
    order = np.argsort(-lengths, kind="stable")
    T = int(lengths.max()) if len(lengths) else 0
    n_t = len(lengths) - np.cumsum(np.bincount(lengths, minlength=T + 1))[:T]
    starts = np.cumsum(n_t) - n_t
    cols = np.repeat(np.arange(T), n_t)
    rows = order[np.arange(len(cols)) - np.repeat(starts, n_t)]
    return rows, cols, list(zip(starts.tolist(), n_t.tolist()))


def _lstm_packed(x, steps, W, U, b, hidden, reverse=False):
    """Single-direction LSTM over packed rows.

    x: [N,D] packed input; steps: from ``_pack``.  Returns the hidden
    state of every packed slot, [N,H].  Only real tokens are computed:
    step t runs ``h[:n_t] @ U`` on the rows still running.  Reversed,
    the prefix grows as t falls, and rows joining it start from the
    zero state.
    Gate packing order: i, f, o, g — the three sigmoid gates contiguous
    so one vectorized sigmoid covers [n,3H] (pinned; goldens freeze it).
    """
    # the input projection is one [N,D]@[D,4H] sgemm outside the
    # recurrence; only h@U is inherently sequential
    xW = x @ W + b
    n0 = steps[0][1] if steps else 0
    h = np.zeros((n0, hidden), dtype=xW.dtype)
    c = np.zeros((n0, hidden), dtype=xW.dtype)
    h_out = np.empty((len(x), hidden), dtype=xW.dtype)
    for s, n in reversed(steps) if reverse else steps:
        z = xW[s : s + n] + h[:n] @ U
        gates = _sigmoid(z[:, : 3 * hidden])
        i = gates[:, :hidden]
        f = gates[:, hidden : 2 * hidden]
        o = gates[:, 2 * hidden : 3 * hidden]
        g = np.tanh(z[:, 3 * hidden :])
        c[:n] = f * c[:n] + i * g
        h[:n] = o * np.tanh(c[:n])
        h_out[s : s + n] = h[:n]
    return h_out


def _lstm(x, lengths, W, U, b, hidden, reverse=False):
    """Padded-layout view of ``_lstm_packed``.

    x: [B,T,D]; lengths: [B] int; returns h_seq [B,T,H] (zeros past
    each length) and h_last [B,H] (state at the last valid step: step
    len-1 forward, step 0 reversed; zeros for an empty sequence).
    """
    B, T, _ = x.shape
    rows, cols, steps = _pack(lengths)
    hp = _lstm_packed(x[rows, cols], steps, W, U, b, hidden, reverse)
    h_seq = np.zeros((B, T, hidden), dtype=hp.dtype)
    h_seq[rows, cols] = hp
    h_last = np.zeros((B, hidden), dtype=hp.dtype)
    at = cols == 0 if reverse else cols == np.asarray(lengths)[rows] - 1
    h_last[rows[at]] = hp[at]
    return h_seq, h_last


def char_encode(char_ids, word_lengths, arrays):
    """char_ids: [N,W] int (N words, W max chars); word_lengths: [N].
    Returns [N, 2*CHAR_HIDDEN] (fw last ++ bw last) — the reference's
    character Bi-LSTM word encoding (entity_lstm.py ≈L20–90).

    Both directions run over the packed characters.  A word's forward
    last state is its packed slot at step len-1, its backward last
    state its slot at step 0; an empty word encodes to zeros."""
    rows, cols, steps = _pack(word_lengths)
    emb = arrays["char_emb"][char_ids[rows, cols]]  # [n_chars,25]
    H = arrays["char_lstm_fw_U"].shape[0]
    fw = _lstm_packed(emb, steps, arrays["char_lstm_fw_W"], arrays["char_lstm_fw_U"], arrays["char_lstm_fw_b"], H)
    bw = _lstm_packed(emb, steps, arrays["char_lstm_bw_W"], arrays["char_lstm_bw_U"], arrays["char_lstm_bw_b"], H, reverse=True)
    out = np.zeros((len(word_lengths), 2 * H), dtype=fw.dtype)
    last = cols == np.asarray(word_lengths)[rows] - 1
    out[rows[last], :H] = fw[last]
    first = cols == 0
    out[rows[first], H:] = bw[first]
    return out


def forward_scores(token_ids, char_ids, lengths, word_lengths, arrays):
    """Full forward pass.

    token_ids: [B,T]; char_ids: [B,T,W]; lengths: [B] (tokens per
    sentence); word_lengths: [B,T] (chars per token).
    Returns unary scores [B,T,C+2] float32.
    """
    B, T = token_ids.shape
    W = char_ids.shape[2]
    char_feat = char_encode(
        char_ids.reshape(B * T, W), word_lengths.reshape(B * T), arrays
    ).reshape(B, T, -1)
    return forward_scores_feat(token_ids, char_feat, lengths, arrays)


def forward_scores_feat(token_ids, char_feat, lengths, arrays):
    """Forward pass with precomputed char features [B,T,2*CHAR_HIDDEN].
    Returns unary scores [B,T,C+2]: the output layer runs on the packed
    real tokens, and a padded position holds the score of the padded
    feature row ``tanh(ff_b)``.

    The tagger encodes only the UNIQUE words of each batch through the
    char Bi-LSTM and scatters features back (word surface is the only
    input to the char encoder, and web text is Zipf-distributed, so
    this cuts the char-LSTM work by orders of magnitude vs the
    reference's per-occurrence encoding — bit-identical output).
    """
    rows, cols, ff, pad = _packed_features(token_ids, char_feat, lengths, arrays)
    out_W, out_b = arrays["out_W"], arrays["out_b"]
    return _unpack(ff @ out_W + out_b, rows, cols, token_ids.shape, pad @ out_W + out_b)


def forward_features(token_ids, char_feat, lengths, arrays):
    """Encoder up to the tanh FF layer: [B,T,FF_DIM]. Shared by
    inference (then @ out_W) and output-layer training (fixed
    features, trainable softmax head — model/train.py).  A padded
    position holds ``tanh(ff_b)``, the FF output of a zero hidden
    state, as in ``forward_features_cache``."""
    rows, cols, ff, pad = _packed_features(token_ids, char_feat, lengths, arrays)
    return _unpack(ff, rows, cols, token_ids.shape, pad)


def _packed_features(token_ids, char_feat, lengths, arrays):
    """Token Bi-LSTM + FF over the packed real tokens of a padded
    batch.  Returns (rows, cols, ff [N,FF_DIM], pad [FF_DIM]): packed
    slot k is padded position (rows[k], cols[k]) and pad is the FF
    output at a padded position."""
    rows, cols, steps = _pack(lengths)
    tok_emb = arrays["token_emb"][token_ids[rows, cols]]  # [N,100]
    x = np.concatenate([tok_emb, char_feat[rows, cols]], axis=1)  # [N,150]
    H = arrays["token_lstm_fw_U"].shape[0]
    fw = _lstm_packed(x, steps, arrays["token_lstm_fw_W"], arrays["token_lstm_fw_U"], arrays["token_lstm_fw_b"], H)
    bw = _lstm_packed(x, steps, arrays["token_lstm_bw_W"], arrays["token_lstm_bw_U"], arrays["token_lstm_bw_b"], H, reverse=True)
    h = np.concatenate([fw, bw], axis=1)  # [N,200]
    ff_b = arrays["ff_b"]
    return rows, cols, np.tanh(h @ arrays["ff_W"] + ff_b), np.tanh(ff_b)


def _unpack(packed, rows, cols, shape, pad):
    """Scatter packed rows [N,K] back to [B,T,K], ``pad`` elsewhere."""
    out = np.full((*shape, len(pad)), pad, dtype=packed.dtype)
    out[rows, cols] = packed
    return out


# ---------------------------------------------------------------------
# BPTT (full-network training, reference ``src/entity_lstm.py ::
# define_training_procedure`` — the TF autodiff path re-derived by hand
# in numpy).  The char Bi-LSTM stays frozen (its features enter as a
# constant input, like the reference's ``reload_character_embeddings``
# freeze flag); everything from the token-LSTM input up is trainable.
# ---------------------------------------------------------------------


def _lstm_cache(x, lengths, W, U, b, hidden, reverse=False):
    """Forward identical to ``_lstm`` but keeps the per-step gate
    activations needed for BPTT.  Computes in ``x.dtype`` so float64
    inputs give float64 math (gradient-check precision)."""
    B, T, D = x.shape
    dt = x.dtype
    h = np.zeros((B, hidden), dtype=dt)
    c = np.zeros((B, hidden), dtype=dt)
    h_seq = np.zeros((B, T, hidden), dtype=dt)
    xW = (x.reshape(B * T, D) @ W + b).reshape(B, T, 4 * hidden)
    cache = {k: np.zeros((T, B, hidden), dtype=dt) for k in ("i", "f", "o", "g", "tc", "c_prev", "h_prev")}
    steps = range(T - 1, -1, -1) if reverse else range(T)
    for t in steps:
        z = xW[:, t, :] + h @ U
        gates = _sigmoid(z[:, : 3 * hidden])
        i = gates[:, :hidden]
        f = gates[:, hidden : 2 * hidden]
        o = gates[:, 2 * hidden : 3 * hidden]
        g = np.tanh(z[:, 3 * hidden :])
        cache["c_prev"][t] = c
        cache["h_prev"][t] = h
        c_new = f * c + i * g
        tc = np.tanh(c_new)
        h_new = o * tc
        cache["i"][t], cache["f"][t], cache["o"][t] = i, f, o
        cache["g"][t], cache["tc"][t] = g, tc
        valid = (lengths > t)[:, None]
        c = np.where(valid, c_new, c)
        h = np.where(valid, h_new, h)
        h_seq[:, t, :] = np.where(valid, h_new, 0.0)
    return h_seq, cache


def _lstm_backward(d_hseq, x, lengths, W, U, cache, hidden, reverse=False):
    """BPTT through one LSTM direction.  Returns (dx, dW, dU, db).
    Masking mirrors the forward pass-through: at invalid steps state is
    carried, so gradients pass through unchanged."""
    B, T, D = x.shape
    dW = np.zeros(W.shape, dtype=np.float64)
    dU = np.zeros(U.shape, dtype=np.float64)
    db = np.zeros(4 * hidden, dtype=np.float64)
    dx = np.zeros((B, T, D), dtype=x.dtype)
    dh = np.zeros((B, hidden), dtype=x.dtype)
    dc = np.zeros((B, hidden), dtype=x.dtype)
    # iterate in reverse of the forward step order
    steps = range(T) if reverse else range(T - 1, -1, -1)
    for t in steps:
        valid = (lengths > t)[:, None]
        i, f, o = cache["i"][t], cache["f"][t], cache["o"][t]
        g, tc = cache["g"][t], cache["tc"][t]
        c_prev, h_prev = cache["c_prev"][t], cache["h_prev"][t]
        dh_t = dh + np.where(valid, d_hseq[:, t, :], 0.0)
        do = dh_t * tc
        dct = dc + dh_t * o * (1.0 - tc * tc)
        dz = np.concatenate(
            [
                dct * g * i * (1.0 - i),
                dct * c_prev * f * (1.0 - f),
                do * o * (1.0 - o),
                dct * i * (1.0 - g * g),
            ],
            axis=1,
        )
        dz = np.where(valid, dz, 0.0)
        dW += x[:, t, :].T.astype(np.float64) @ dz.astype(np.float64)
        dU += h_prev.T.astype(np.float64) @ dz.astype(np.float64)
        db += dz.sum(axis=0)
        dx[:, t, :] = dz @ W.T
        dh = np.where(valid, dz @ U.T, dh_t)
        dc = np.where(valid, dct * f, dc)
    return dx, dW, dU, db


def char_encode_cache(char_ids, word_lengths, arrays):
    """``char_encode`` with the activations kept for BPTT.
    Returns (feat [N, 2*CHAR_HIDDEN], cache)."""
    emb = arrays["char_emb"][char_ids]  # [N,W,25]
    H = arrays["char_lstm_fw_U"].shape[0]
    fw_seq, fw_cache = _lstm_cache(
        emb, word_lengths, arrays["char_lstm_fw_W"], arrays["char_lstm_fw_U"], arrays["char_lstm_fw_b"], H
    )
    bw_seq, bw_cache = _lstm_cache(
        emb, word_lengths, arrays["char_lstm_bw_W"], arrays["char_lstm_bw_U"], arrays["char_lstm_bw_b"], H, reverse=True
    )
    N = char_ids.shape[0]
    rows = np.arange(N)
    nonempty = word_lengths > 0
    fw_last = np.zeros((N, H), dtype=fw_seq.dtype)
    bw_last = np.zeros((N, H), dtype=bw_seq.dtype)
    # h_last == h_seq at the last valid step (fw) / step 0 (bw)
    fw_last[nonempty] = fw_seq[rows[nonempty], word_lengths[nonempty] - 1]
    bw_last[nonempty] = bw_seq[rows[nonempty], 0]
    cache = {
        "emb": emb,
        "char_ids": char_ids,
        "word_lengths": word_lengths,
        "fw": fw_cache,
        "bw": bw_cache,
        "H": H,
    }
    return np.concatenate([fw_last, bw_last], axis=1), cache


def char_encode_backward(d_feat, cache, arrays):
    """BPTT through the char Bi-LSTM word encoder.

    d_feat: [N, 2*CHAR_HIDDEN] gradient on (fw_last ++ bw_last).
    Returns grads dict for char_emb + both char LSTM weight sets.
    The last-state gradient is injected as a d_hseq impulse at each
    word's final valid step (fw) / step 0 (bw) — h_last IS h_seq there.
    """
    emb, char_ids, wl, H = cache["emb"], cache["char_ids"], cache["word_lengths"], cache["H"]
    N, W, D = emb.shape
    rows = np.arange(N)
    nonempty = wl > 0
    d_fw_seq = np.zeros((N, W, H), dtype=emb.dtype)
    d_bw_seq = np.zeros((N, W, H), dtype=emb.dtype)
    d_fw_seq[rows[nonempty], wl[nonempty] - 1] = d_feat[nonempty, :H]
    d_bw_seq[rows[nonempty], 0] = d_feat[nonempty, H:]
    dx_f, dWf, dUf, dbf = _lstm_backward(
        d_fw_seq, emb, wl, arrays["char_lstm_fw_W"], arrays["char_lstm_fw_U"], cache["fw"], H
    )
    dx_b, dWb, dUb, dbb = _lstm_backward(
        d_bw_seq, emb, wl, arrays["char_lstm_bw_W"], arrays["char_lstm_bw_U"], cache["bw"], H, reverse=True
    )
    dx = (dx_f + dx_b).astype(np.float64)
    d_emb = np.zeros(arrays["char_emb"].shape, dtype=np.float64)
    np.add.at(d_emb, char_ids.ravel(), dx.reshape(-1, D))
    return {
        "char_emb": d_emb,
        "char_lstm_fw_W": dWf,
        "char_lstm_fw_U": dUf,
        "char_lstm_fw_b": dbf,
        "char_lstm_bw_W": dWb,
        "char_lstm_bw_U": dUb,
        "char_lstm_bw_b": dbb,
    }


def forward_features_cache(token_ids, char_feat, lengths, arrays, dropout_mask=None):
    """``forward_features`` with the activations kept for backprop.
    Returns (ff [B,T,FF_DIM], cache).

    ``dropout_mask`` (optional, [B,T,TOKEN_DIM+2*CHAR_HIDDEN],
    inverted-dropout scaled): applied to the token-LSTM INPUT — the
    concat of token embedding and char-LSTM output — matching the
    reference's site (`entity_lstm.py` drops out ``token_lstm_input``
    before the token LSTM).  Train-only; inference never passes one.
    """
    tok_emb = arrays["token_emb"][token_ids]
    x = np.concatenate([tok_emb, char_feat], axis=2)
    if dropout_mask is not None:
        x = x * dropout_mask.astype(x.dtype)  # cache the MASKED x: it is what the LSTMs saw
    fw_seq, fw_cache = _lstm_cache(
        x, lengths, arrays["token_lstm_fw_W"], arrays["token_lstm_fw_U"], arrays["token_lstm_fw_b"], arrays["token_lstm_fw_U"].shape[0]
    )
    bw_seq, bw_cache = _lstm_cache(
        x, lengths, arrays["token_lstm_bw_W"], arrays["token_lstm_bw_U"], arrays["token_lstm_bw_b"], arrays["token_lstm_bw_U"].shape[0], reverse=True
    )
    h = np.concatenate([fw_seq, bw_seq], axis=2)
    ff = np.tanh(h @ arrays["ff_W"] + arrays["ff_b"])
    cache = {
        "x": x,
        "h": h,
        "ff": ff,
        "fw": fw_cache,
        "bw": bw_cache,
        "lengths": lengths,
        "token_ids": token_ids,
        "dropout_mask": dropout_mask,
    }
    return ff, cache


def backward_features(d_ff, cache, arrays):
    """Backprop d_ff [B,T,FF_DIM] through FF + token Bi-LSTM.
    Returns (grads dict keyed like the weight arrays, dx [B,T,tin]) —
    dx[:, :, :TOKEN_DIM] is the token-embedding gradient per position."""
    x, h, ff, lengths = cache["x"], cache["h"], cache["ff"], cache["lengths"]
    B, T, H2 = h.shape
    hidden = H2 // 2
    FF = arrays["ff_W"].shape[1]
    d_pre = (d_ff * (1.0 - ff * ff)).astype(x.dtype)
    d_ff_W = h.reshape(B * T, H2).astype(np.float64).T @ d_pre.reshape(B * T, FF).astype(np.float64)
    d_ff_b = d_pre.reshape(B * T, FF).sum(axis=0).astype(np.float64)
    d_h = d_pre @ arrays["ff_W"].T
    dx_f, dWf, dUf, dbf = _lstm_backward(
        d_h[:, :, :hidden], x, lengths, arrays["token_lstm_fw_W"], arrays["token_lstm_fw_U"], cache["fw"], hidden
    )
    dx_b, dWb, dUb, dbb = _lstm_backward(
        d_h[:, :, hidden:], x, lengths, arrays["token_lstm_bw_W"], arrays["token_lstm_bw_U"], cache["bw"], hidden, reverse=True
    )
    grads = {
        "token_lstm_fw_W": dWf,
        "token_lstm_fw_U": dUf,
        "token_lstm_fw_b": dbf,
        "token_lstm_bw_W": dWb,
        "token_lstm_bw_U": dUb,
        "token_lstm_bw_b": dbb,
        "ff_W": d_ff_W,
        "ff_b": d_ff_b,
    }
    dx = dx_f + dx_b  # gradient wrt the (masked) LSTM input
    if cache.get("dropout_mask") is not None:
        # chain through the input dropout: d(raw x) = d(masked x) * mask
        dx = dx * cache["dropout_mask"].astype(dx.dtype)
    return grads, dx


def _logsumexp(a, axis):
    m = a.max(axis=axis, keepdims=True)
    return np.squeeze(m, axis) + np.log(np.exp(a - m).sum(axis=axis))


def crf_loss_grad(scores, lengths, gold, transitions):
    """Batched CRF negative log-likelihood + exact gradients (reference
    ``tf.contrib.crf.crf_log_likelihood`` semantics, start/end
    augmented; forward-backward in log space, DP loops over time only).

    scores: [B,T,C+2]; lengths: [B] (>0); gold: [B,T] int (real-class
    ids, arbitrary past each length); transitions: [C+2,C+2].
    Returns (loss_sum, d_scores [B,T,C+2], d_trans [C+2,C+2]) where the
    gradients are of sum-NLL (unnormalized — divide by token count at
    the aggregation site).
    """
    B, T, S = scores.shape
    C = N_CLASSES
    sc = scores[:, :, :C].astype(np.float64)
    trans = transitions.astype(np.float64)
    tCC = trans[:C, :C]
    rows = np.arange(B)
    last = lengths - 1

    # forward (alpha); ended rows carry their value so alpha[:, T-1]
    # is alpha at each row's last step
    alpha = np.zeros((B, T, C), dtype=np.float64)
    alpha[:, 0] = trans[START, :C][None, :] + sc[:, 0]
    for t in range(1, T):
        new = _logsumexp(alpha[:, t - 1][:, :, None] + tCC[None], axis=1) + sc[:, t]
        alpha[:, t] = np.where((t < lengths)[:, None], new, alpha[:, t - 1])
    logZ = _logsumexp(alpha[:, T - 1] + trans[:C, END][None, :], axis=1)  # [B]

    # backward (beta), initialized at each row's last position
    beta = np.zeros((B, T, C), dtype=np.float64)
    beta[rows, last] = trans[:C, END][None, :]
    for t in range(T - 2, -1, -1):
        nxt = sc[:, t + 1] + beta[:, t + 1]  # [B,C]
        val = _logsumexp(tCC[None] + nxt[:, None, :], axis=2)
        beta[:, t] = np.where((t + 1 < lengths)[:, None], val, beta[:, t])

    # unary marginals, zeroed past each length
    u = np.exp(alpha + beta - logZ[:, None, None])
    u[np.arange(T)[None, :] >= lengths[:, None]] = 0.0

    d_scores = np.zeros((B, T, S), dtype=np.float64)
    d_scores[:, :, :C] = u
    valid_bt = np.arange(T)[None, :] < lengths[:, None]
    vb, vt = np.nonzero(valid_bt)
    np.subtract.at(d_scores, (vb, vt, gold[vb, vt]), 1.0)

    d_trans = np.zeros((S, S), dtype=np.float64)
    # pairwise marginals per step
    for t in range(1, T):
        act = t < lengths
        if not act.any():
            break
        A = (
            alpha[act, t - 1][:, :, None]
            + tCC[None]
            + (sc[act, t] + beta[act, t])[:, None, :]
            - logZ[act][:, None, None]
        )
        d_trans[:C, :C] += np.exp(A).sum(axis=0)
    d_trans[START, :C] += u[:, 0, :].sum(axis=0)
    d_trans[:C, END] += u[rows, last, :].sum(axis=0)
    # minus gold-path counts
    np.subtract.at(d_trans, (np.full(B, START), gold[:, 0]), 1.0)
    np.subtract.at(d_trans, (gold[rows, last], np.full(B, END)), 1.0)
    for t in range(1, T):
        act = t < lengths
        if not act.any():
            break
        np.subtract.at(d_trans, (gold[act, t - 1], gold[act, t]), 1.0)

    # gold-path score for the loss
    gold_unary = np.where(valid_bt, np.take_along_axis(sc, gold[:, :, None], axis=2)[:, :, 0], 0.0).sum(axis=1)
    gold_trans = trans[START, gold[:, 0]] + trans[gold[rows, last], END]
    for t in range(1, T):
        act = t < lengths
        gold_trans = gold_trans + np.where(act, tCC[gold[:, t - 1], gold[:, t]], 0.0)
    loss_sum = float((logZ - gold_unary - gold_trans).sum())
    return loss_sum, d_scores, d_trans


def argmax_decode(scores, lengths):
    """No-CRF path (reference ``use_crf=False``: ``tf.argmax`` per
    token, SURVEY O2): independent per-token argmax over real classes."""
    out = scores[:, :, :N_CLASSES].argmax(axis=2).astype(np.int32)
    B, T = out.shape
    mask = np.arange(T)[None, :] >= lengths[:, None]
    out[mask] = 0
    return out


def viterbi_decode(scores, lengths, transitions):
    """Batched Viterbi with start/end augmentation (reference
    ``tf.contrib.crf.viterbi_decode`` semantics, one DP over max-T for
    the whole batch).

    scores: [B,T,C+2]; lengths: [B]; transitions: [C+2,C+2].
    Returns label ids [B,T] int32 (zeros past each length).
    """
    B, T, S = scores.shape
    C = N_CLASSES
    # restrict to real classes; start/end handled via transition rows
    delta = scores[:, 0, :C] + transitions[START, :C][None, :]
    backp = np.zeros((B, T, C), dtype=np.int32)
    for t in range(1, T):
        # cand[b, prev, cur] = delta[b, prev] + trans[prev, cur]
        cand = delta[:, :, None] + transitions[:C, :C][None, :, :]
        best_prev = cand.argmax(axis=1)  # [B, C]
        new_delta = cand.max(axis=1) + scores[:, t, :C]
        active = (t < lengths)[:, None]
        delta = np.where(active, new_delta, delta)
        backp[:, t, :] = np.where(active, best_prev, 0)
    # end augmentation + batched backtrack (loops over time only)
    final = delta + transitions[:C, END][None, :]
    out = np.zeros((B, T), dtype=np.int32)
    last = final.argmax(axis=1)
    rows = np.arange(B)
    nonempty = lengths > 0
    out[rows[nonempty], lengths[nonempty] - 1] = last[nonempty]
    for t in range(T - 1, 0, -1):
        active = lengths - 1 >= t  # out[:, t] is defined for these rows
        if not active.any():
            continue
        r = rows[active]
        out[r, t - 1] = backp[r, t, out[r, t]]
    return out
