"""Near-dup and similarity operators on constructed duplicates: the
pair generators must FIND planted near-duplicates and must not go
quadratic (candidates only from key collisions)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while the merge sort "
    "algorithm scans the big table and the hash join builds its side"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup (1 token)
        (3, BASE.replace("quick", "slow").replace("dog", "cat")),  # near dup (2 tokens)
        (4, "completely different text about spark streaming windows and state"),
        (5, "another unrelated document mentioning customers and orders only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    from neuroner_spark.operators.dedup import exact_dedup

    groups = exact_dedup(_docs(spark)).collect()
    dup_groups = [g for g in groups if g["n_docs"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["keep_id"] == 0 and dup_groups[0]["n_docs"] == 2


def test_jaccard_finds_near_dups(spark):
    from neuroner_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (0, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_bands_catch_near_dups(spark):
    from neuroner_spark.operators.dedup import band_pairs_from_banded, minhash_banded

    pairs = {
        (r["a"], r["b"]): r["n_bands_matched"]
        for r in band_pairs_from_banded(minhash_banded(_docs(spark), n=3, bands=4)).collect()
    }
    assert pairs[(0, 1)] == 4  # identical docs share every band
    assert (0, 2) in pairs  # near dup caught by at least one band
    assert (4, 5) not in pairs


def test_simhash_buckets_exact_dups(spark):
    from neuroner_spark.operators.dedup import simhash, simhash_buckets

    buckets = simhash_buckets(_docs(spark), bits=16).collect()
    assert any(b["n_docs"] >= 2 and b["keep_id"] == 0 for b in buckets)
    # near dups have small hamming distance
    sh = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark), bits=16).collect()}
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham_near < ham_far


def test_lsh_bucket_pairs_find_similar_vectors(spark):
    from neuroner_spark.operators.similarity import lsh_bucket_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, 64).astype(np.float32)
    rows = []
    # two tight clusters + noise vectors
    for i in range(3):
        rows.append((i, (base + rng.normal(0, 0.05, 64).astype(np.float32)).tolist()))
    other = rng.normal(0, 1, 64).astype(np.float32)
    for i in range(3, 6):
        rows.append((i, (other + rng.normal(0, 0.05, 64).astype(np.float32)).tolist()))
    for i in range(6, 16):
        rows.append((i, rng.normal(0, 1, 64).astype(np.float32).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["a"], r["b"]) for r in lsh_bucket_pairs(emb, n_planes=8, dim=64, min_cos=0.9).collect()}
    # all intra-cluster pairs found, no cross-cluster pair survives min_cos
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    assert {(3, 4), (3, 5), (4, 5)} <= pairs
    assert not any(a < 3 <= b < 6 for a, b in pairs)


def test_ivf_topk_recall_vs_exact(spark):
    """IVF probe-limited search recovers most exact top-10 neighbors."""
    from neuroner_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(
            emb.filter(F.col("vec_id") != 0), qvec, k=10, n_cells=8, nprobe=4
        ).collect()
    ]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 6, (exact, approx)
    # full probe == exact search (sanity: IVF with nprobe=n_cells is lossless)
    full = [
        r["vec_id"]
        for r in ivf_topk(
            emb.filter(F.col("vec_id") != 0), qvec, k=10, n_cells=8, nprobe=8
        ).collect()
    ]
    assert full == exact


def test_fast_hash_path_equivalent_behavior(spark):
    """fast_hash=True (xxhash64 production path) finds the SAME near-dup
    pairs / buckets as the oracle-pinned md5 path — values differ, set
    behavior does not (hashes only serve as set elements / sign bits)."""
    import time

    from neuroner_spark.operators.dedup import (
        band_pairs_from_banded,
        minhash_banded,
        ngram_jaccard_pairs,
        simhash_buckets,
    )

    docs = _docs(spark)
    slow_pairs = {(r["a"], r["b"], r["jaccard"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    fast_pairs = {(r["a"], r["b"], r["jaccard"]) for r in ngram_jaccard_pairs(docs, threshold=0.5, fast_hash=True).collect()}
    # Jaccard over shingle SETS: identical pairs AND identical values
    assert slow_pairs == fast_pairs and len(fast_pairs) > 0

    slow_band = {(r["a"], r["b"]) for r in band_pairs_from_banded(minhash_banded(docs)).collect()}
    fast_band = {
        (r["a"], r["b"])
        for r in band_pairs_from_banded(minhash_banded(docs, fast_hash=True)).collect()
    }
    # banding is probabilistic per hash family: exact-dup pairs (all 8
    # mins equal) must appear under BOTH families
    exact_dups = {(a, b) for a, b, j in slow_pairs if j == 1.0}
    assert exact_dups <= slow_band and exact_dups <= fast_band

    # identical-text docs (0 and 1) share a simhash under ANY hash
    # family; near-dup collisions at 16 bits are family-dependent
    for fast in (False, True):
        buckets = simhash_buckets(docs, fast_hash=fast).collect()
        assert any(r["keep_id"] == 0 and r["n_docs"] >= 2 for r in buckets), (fast, buckets)


def test_duplicated_spans_c4_style(spark):
    """C4 span dedup: a 3-sentence span shared by two docs is flagged
    in both; unique docs report zero duplicated spans."""
    from neuroner_spark.operators.dedup import duplicated_spans

    shared = "Alpha one. Beta two. Gamma three."
    rows = [
        (0, shared + " Unique tail zero. More zero. End zero."),
        (1, "Lead one in. " + shared + " Other tail one."),
        (2, "Totally different. Nothing shared here. At all. Truly."),
        (3, "Short doc."),  # < 3 sentences -> zero spans
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicated_spans(docs).collect()}
    assert out[0]["n_dup_spans"] >= 1 and out[1]["n_dup_spans"] >= 1
    assert out[2]["n_dup_spans"] == 0 and out[2]["n_spans"] > 0
    # span-less docs still get a row (no silent drop past a quality gate)
    assert out[3]["n_spans"] == 0 and out[3]["n_dup_spans"] == 0
    assert out[3]["dup_span_frac"] == 0.0
    assert 0 < out[0]["dup_span_frac"] <= 1.0


def test_benchmark_contamination(spark):
    """Decontamination: a doc embedding a benchmark sentence is
    flagged; clean docs score zero; short docs still get a row."""
    from neuroner_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(0, "the capital of france is paris and it sits on the seine")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (0, "quiz answer: the capital of france is paris and it sits on the seine river today"),
            (1, "a totally unrelated document about spark shuffles and joins in the engine"),
            (2, "tiny"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in benchmark_contamination(docs, bench, n=5).collect()}
    assert out[0]["flagged"] is True and out[0]["n_contaminated"] > 0
    assert out[1]["flagged"] is False and out[1]["n_contaminated"] == 0
    assert out[2]["n_shingles"] == 0 and out[2]["flagged"] is False
    assert 0 < out[0]["contaminated_frac"] <= 1.0


def test_minhash_hot_bucket_cap_bounds_pairs(spark):
    """A giant duplicate cluster (the web's boilerplate case) must not
    emit quadratic pairs: over-cap band buckets route to the
    giant-bucket side output; small buckets still pair normally."""
    from neuroner_spark.operators.dedup import (
        band_pairs_from_banded,
        giant_buckets_from_banded,
        minhash_banded,
    )

    n_clones = 3000
    rows = [(i, BASE) for i in range(n_clones)]
    rows += [
        (n_clones, "totally different text alpha beta gamma delta epsilon zeta"),
        (n_clones + 1, "totally different text alpha beta gamma delta epsilon zeta"),
        (n_clones + 2, "yet another unrelated document about streams and windows"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = band_pairs_from_banded(minhash_banded(docs), max_bucket=100).collect()
    # uncapped, the clone cluster alone would emit ~n_clones^2/2 = 4.5M pairs
    assert len(pairs) < 100
    # the small exact-dup pair outside the giant cluster still pairs
    assert any(r["a"] == n_clones and r["b"] == n_clones + 1 for r in pairs)
    giants = giant_buckets_from_banded(minhash_banded(docs), max_bucket=100).collect()
    assert len(giants) >= 1
    assert all(g["n_docs"] >= n_clones and g["keep_id"] == 0 for g in giants)
    # cap=None restores the uncapped semantics (schema-only empty giants)
    assert giant_buckets_from_banded(minhash_banded(docs), max_bucket=None).count() == 0
    # shared-scan forms: one materialized banded frame serves BOTH outputs
    bd = minhash_banded(docs).localCheckpoint()
    assert band_pairs_from_banded(bd, max_bucket=100).count() == len(pairs)
    assert giant_buckets_from_banded(bd, max_bucket=100).count() == len(giants)


def test_near_dedup_corpus_end_to_end_with_giant_cluster(spark):
    """The full composition (banding -> capped pairs + giant star
    edges -> connected components -> keep-one) dedups a 3000-clone
    giant cluster to ONE representative without ever emitting its
    ~4.5M quadratic pairs, while small near-dup clusters and unique
    docs are handled on the pair path."""
    from neuroner_spark.operators.dedup import near_dedup_corpus

    n_clones = 3000
    rows = [(i, BASE) for i in range(n_clones)]
    rows += [
        (n_clones, "totally different text alpha beta gamma delta epsilon zeta"),
        (n_clones + 1, "totally different text alpha beta gamma delta epsilon zeta"),
        (n_clones + 2, "yet another unrelated document about streams and windows"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in near_dedup_corpus(docs, max_bucket=100).collect()}
    # one row per input doc — nothing silently dropped
    assert len(out) == n_clones + 3
    # the giant cluster collapses to component 0, only doc 0 kept
    assert all(out[i]["component"] == 0 for i in range(n_clones))
    assert out[0]["keep"] is True
    assert not any(out[i]["keep"] for i in range(1, n_clones))
    # the small exact-dup pair dedups via the PAIR path
    assert out[n_clones]["keep"] is True and out[n_clones + 1]["keep"] is False
    assert out[n_clones + 1]["component"] == n_clones
    # the unique doc survives as its own singleton component
    assert out[n_clones + 2]["keep"] is True
    assert out[n_clones + 2]["component"] == n_clones + 2
    # the deduplicated corpus is exactly the keep=true rows
    assert sum(1 for r in out.values() if r["keep"]) == 3
    # production hash path (xxhash64): identical component structure —
    # the cluster memberships don't depend on the hash family
    fast = {
        r["doc_id"]: r
        for r in near_dedup_corpus(docs, max_bucket=100, fast_hash=True).collect()
    }
    assert {d: r["component"] for d, r in fast.items()} == {
        d: r["component"] for d, r in out.items()
    }


@pytest.mark.parametrize("family", ["minhash", "simhash", "winnow"])
def test_near_dedup_corpus_invariants_random(spark, family):
    """Structural invariants of every keep-one family (minhash bands,
    simhash blocks, winnowing fingerprints) on a random small-vocab
    corpus (lots of accidental near-dups): exactly one row per doc;
    component is the min id of its cluster; keep <=> doc_id ==
    component; every component representative keeps itself."""
    import random

    from neuroner_spark.operators.dedup import (
        near_dedup_corpus,
        simhash_near_dedup,
        winnow_components_from_fps,
        winnowing_fingerprints,
    )

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    keep_one_of = {
        "minhash": lambda: near_dedup_corpus(docs, max_bucket=10),
        "simhash": lambda: simhash_near_dedup(docs, max_bucket=10),
        "winnow": lambda: winnow_components_from_fps(
            winnowing_fingerprints(docs), docs.select("doc_id"), max_bucket=10
        ),
    }
    out = keep_one_of[family]().collect()
    assert len(out) == 120
    assert sorted(r["doc_id"] for r in out) == list(range(120))
    comp = {r["doc_id"]: r["component"] for r in out}
    keep = {r["doc_id"]: r["keep"] for r in out}
    for d in comp:
        assert comp[d] <= d  # component label is a min
        assert comp[comp[d]] == comp[d]  # representative is its own root
        assert keep[d] == (d == comp[d])
    # min-of-cluster: within each component, the label equals the min member
    clusters: dict[int, list[int]] = {}
    for d, c in comp.items():
        clusters.setdefault(c, []).append(d)
    for c, members in clusters.items():
        assert min(members) == c


def test_lsh_hot_bucket_cap_bounds_pairs(spark):
    """Same guard on the hyperplane-LSH pair generator."""
    from neuroner_spark.operators.similarity import (
        lsh_all_signatures,
        lsh_bucket_pairs,
        lsh_giants_from_signatures,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(0, 1, 64).astype(np.float32)
    n_clones = 2000
    rows = [(i, base.tolist()) for i in range(n_clones)]
    other = rng.normal(0, 1, 64).astype(np.float32)
    rows += [(n_clones, other.tolist()), (n_clones + 1, other.tolist())]
    rows += [(n_clones + 2 + i, rng.normal(0, 1, 64).astype(np.float32).tolist()) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = lsh_bucket_pairs(emb, n_planes=8, dim=64, min_cos=0.9, max_bucket=100).collect()
    assert len(pairs) < 100  # uncapped: ~2M pairs from the clone bucket
    assert any(r["a"] == n_clones and r["b"] == n_clones + 1 for r in pairs)
    sigs = lsh_all_signatures(emb, n_planes=8, dim=64)
    giants = lsh_giants_from_signatures(sigs, max_bucket=100).collect()
    assert len(giants) >= 1
    assert all(g["n_docs"] >= n_clones and g["keep_id"] == 0 for g in giants)


def test_embedding_blocked_pairs_cap(spark):
    """The label-block pair generator must bound its quadratic term
    like every other candidate generator: a 3000-member hot label
    emits ZERO pairs (routed to the giant-block side output), small
    blocks still pair normally."""
    from neuroner_spark.operators.similarity import (
        embedding_blocked_pairs,
        embedding_giant_blocks,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(0, 1, 16).astype(np.float32)
    rows = [(i, "hot", base.tolist()) for i in range(3000)]
    rows += [
        (3000, "cool", base.tolist()),
        (3001, "cool", base.tolist()),
        (3002, "cool", rng.normal(0, 1, 16).astype(np.float32).tolist()),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    pairs = embedding_blocked_pairs(emb, max_block=100, min_cos=0.9).collect()
    # uncapped, the hot label alone would emit ~4.5M pairs
    assert 0 < len(pairs) < 10
    assert all(r["label"] == "cool" for r in pairs)
    assert any(r["a"] == 3000 and r["b"] == 3001 for r in pairs)
    giants = embedding_giant_blocks(emb, max_block=100).collect()
    assert len(giants) == 1
    assert giants[0]["label"] == "hot" and giants[0]["n_docs"] == 3000 and giants[0]["keep_id"] == 0
    # cap=None restores uncapped semantics
    assert embedding_giant_blocks(emb, max_block=None).count() == 0


def test_near_dedup_vectors_end_to_end(spark):
    """The vector twin of near_dedup_corpus: a 2000-clone embedding
    cluster dedups to one representative via giant-star edges, a small
    exact pair dedups via the verified-pair path, random vectors
    survive as singletons."""
    from neuroner_spark.operators.similarity import near_dedup_vectors

    rng = np.random.default_rng(11)
    base = rng.normal(0, 1, 64).astype(np.float32)
    n_clones = 2000
    rows = [(i, base.tolist()) for i in range(n_clones)]
    other = rng.normal(0, 1, 64).astype(np.float32)
    rows += [(n_clones, other.tolist()), (n_clones + 1, other.tolist())]
    rows += [
        (n_clones + 2 + i, rng.normal(0, 1, 64).astype(np.float32).tolist())
        for i in range(5)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in near_dedup_vectors(emb, max_bucket=100).collect()}
    assert len(out) == n_clones + 7
    assert all(out[i]["component"] == 0 for i in range(n_clones))
    assert out[0]["keep"] is True and not any(out[i]["keep"] for i in range(1, n_clones))
    assert out[n_clones]["keep"] is True and out[n_clones + 1]["keep"] is False
    assert out[n_clones + 1]["component"] == n_clones
    # the 5 random vectors stay singleton keeps (cos < 0.9 w.h.p. at
    # dim 64 with this seed — deterministic fixture)
    for i in range(n_clones + 2, n_clones + 7):
        assert out[i]["keep"] is True and out[i]["component"] == i


def test_remove_duplicated_spans_c4(spark):
    """C4 §2.2 removal semantics: of a duplicated 3-sentence span, the
    first occurrence (min doc, then min position) survives; every
    other occurrence's sentences are deleted and the doc text rebuilt;
    untouched docs pass through; the operation is idempotent."""
    from neuroner_spark.operators.dedup import duplicated_spans, remove_duplicated_spans

    block = "First shared one. Second shared two! Third shared three?"
    rows = [
        (0, "Unique opening here. " + block + " Unique closing there."),
        (1, "Other intro sentence. " + block + " Other outro sentence."),
        (2, "Nothing duplicated at all. Just two sentences."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n_sents=3).collect()}
    assert len(out) == 3
    # doc 0 keeps the block (first occurrence); doc 2 untouched
    assert "Second shared two!" in out[0]["text"]
    assert out[2]["text"] == rows[2][1] and out[2]["n_removed_sentences"] == 0
    # doc 1 loses exactly the three shared sentences, keeps its own
    assert "Second shared two!" not in out[1]["text"]
    assert "Other intro sentence." in out[1]["text"]
    assert "Other outro sentence." in out[1]["text"]
    assert out[1]["n_removed_sentences"] == 3
    # idempotence: a second pass removes nothing
    cleaned = spark.createDataFrame(
        [(d, r["text"]) for d, r in out.items()], "doc_id long, text string"
    )
    again = remove_duplicated_spans(cleaned, n_sents=3).collect()
    assert all(r["n_removed_sentences"] == 0 for r in again)
    # and the detector agrees the cleaned corpus is dup-free
    det = duplicated_spans(cleaned, n_sents=3).collect()
    assert all(r["n_dup_spans"] == 0 for r in det)


def test_remove_duplicated_spans_overlap_keeps_first(spark):
    """Keep-first survives OVERLAPPING duplicated spans (r5 ADVICE
    fix): doc 1 holds the kept occurrence of span X = (Xa Xb Ya) but a
    removed occurrence of span Y = (Ya Yb Yc) — the shared sentence
    'Ya.' belongs to both, and the kept X must win (only Y's unshared
    sentences go)."""
    from neuroner_spark.operators.dedup import remove_duplicated_spans

    rows = [
        (0, "Ya. Yb. Yc."),  # first occurrence of Y -> kept in full
        (1, "Xa. Xb. Ya. Yb. Yc."),  # kept X at 0..2, removed Y at 2..4
        (2, "Xa. Xb. Ya. Other end one. Other end two."),  # removed X
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n_sents=3).collect()}
    assert out[0]["text"] == rows[0][1] and out[0]["n_removed_sentences"] == 0
    # doc 1: Y's removal may NOT take 'Ya.' (it is part of the kept X);
    # only Y's unshared sentences 'Yb. Yc.' are removed
    assert out[1]["text"] == "Xa. Xb. Ya."
    assert out[1]["n_removed_sentences"] == 2
    # doc 2: its X occurrence is the second one -> its 3 sentences go
    assert out[2]["text"] == "Other end one. Other end two."
    assert out[2]["n_removed_sentences"] == 3
    # idempotent on this fixture too
    cleaned = spark.createDataFrame(
        [(d, r["text"]) for d, r in out.items()], "doc_id long, text string"
    )
    again = remove_duplicated_spans(cleaned, n_sents=3).collect()
    assert all(r["n_removed_sentences"] == 0 for r in again)


def test_winnowing_fingerprints(spark):
    """Winnowing guarantees (Schleimer et al. 2003): docs sharing a
    substring of length >= w+k-1 share >= 1 fingerprint; fingerprints
    are local (an edit far from a shared region keeps its prints); a
    too-short doc still gets its global-min print (no silent drop)."""
    from neuroner_spark.operators.dedup import winnowing_fingerprints

    k, w = 5, 4
    shared = "the winnowing algorithm selects minimum hashes per window"
    rows = [
        (0, "prefix one talks about stars. " + shared + " and then ends."),
        (1, "a totally different lead-in here; " + shared + " closing words differ."),
        (2, "no overlap with anything else in this corpus at all, honestly."),
        (3, "tinydoc"),  # >= k chars but < k+w-1: global-min fallback
        (4, "tiny"),  # shorter than k: no k-grams, zero rows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnowing_fingerprints(docs, k=k, w=w).collect()
    by_doc: dict[int, set] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # guarantee: 0 and 1 share the long substring -> >= 1 common print
    assert by_doc[0] & by_doc[1]
    # locality/no-false-share: doc 2 shares nothing that long with 0
    assert not (by_doc[0] & by_doc[2]) or len(by_doc[0] & by_doc[2]) < len(by_doc[0] & by_doc[1])
    # short doc fallback emits exactly its global min; sub-k doc emits nothing
    assert len(by_doc[3]) == 1
    assert 4 not in by_doc
    # locality: editing the PREFIX of doc 0 keeps the shared-region prints
    edited = spark.createDataFrame(
        [(10, "changed start entirely, different words. " + shared + " and then ends.")],
        "doc_id long, text string",
    )
    eout = {r["fp"] for r in winnowing_fingerprints(edited, k=k, w=w).collect()}
    assert by_doc[0] & eout  # prints from the untouched shared region survive
    # fast_hash production path: same SELECTION structure (row counts
    # per doc equal — values differ by hash family)
    fast = winnowing_fingerprints(docs, k=k, w=w, fast_hash=True).collect()
    n_by_doc: dict[int, int] = {}
    for r in fast:
        n_by_doc[r["doc_id"]] = n_by_doc.get(r["doc_id"], 0) + 1
    assert n_by_doc[3] == 1 and 4 not in n_by_doc


def test_sharded_is_conditional(spark):
    """ensure_sharded re-shards only pathologically under-split inputs: a
    single-partition frame fans out to defaultParallelism; an already
    well-sharded frame passes through with NO added exchange."""
    from neuroner_spark.operators.dedup import ensure_sharded

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id long, text string"
    )
    narrow = docs.coalesce(1)
    out = ensure_sharded(narrow, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 100
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    again = ensure_sharded(wide, "doc_id")
    assert again is wide  # identity — zero plan change for sharded inputs


def test_repetition_metrics_keeps_tiny_docs(spark):
    """Quality gates must not silently drop docs: a one-word doc gets a
    row with null bigram fraction and flagged computed from words only."""
    from neuroner_spark.functions.text_analysis import repetition_metrics

    docs = spark.createDataFrame(
        [(0, "single"), (1, "two words here now ok")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert set(out) == {"0", "1"}  # operator casts doc_id to string
    assert out["0"]["top_bigram_frac"] is None
    assert out["0"]["flagged"] is True  # one word = 100% top-word fraction


def test_winnow_components_drops_hot_fps(spark):
    """Over-cap fingerprint buckets are DROPPED, not star-edged: a
    common phrase shared by more docs than max_bucket is stopword-
    grade noise (star-edging it collapsed a 500k-doc corpus to ONE
    keep — measured), so the pile stays un-merged through THIS stage
    (whole-doc boilerplate piles are the banded stage's job), while
    the bucket surfaces in the winnow_giant_fps audit output; docs too
    short to fingerprint survive as singletons."""
    from pyspark.sql import functions as F

    from neuroner_spark.operators.dedup import (
        winnow_components_from_fps,
        winnow_giant_fps,
        winnowing_fingerprints,
    )

    boiler = (
        "subscribe to our newsletter for the latest updates and follow "
        "our channels for more content every single day of the week"
    )
    rows = [(i, boiler + f" tail{i} variant") for i in range(10)]
    rows += [(100, "a completely different article about chess endgames and rook studies")]
    rows += [(101, "hi")]  # shorter than k chars -> no fingerprints
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(docs, k=8, w=4)
    # the hot boilerplate buckets are visible in the audit output...
    giants = winnow_giant_fps(fps, max_bucket=4).collect()
    assert giants and all(g["n_docs"] > 4 for g in giants)
    assert {g["keep_id"] for g in giants} == {0}
    # ...but contribute NO edges: every doc stays a keep=true singleton
    # (the 10 boilerplate docs share only over-cap fingerprints)
    out = {r["doc_id"]: r for r in winnow_components_from_fps(
        fps,
        docs.select(F.col("doc_id").cast("long")).distinct(),
        min_shared=2,
        max_bucket=4,
    ).collect()}
    assert len(out) == 12
    assert all(r["keep"] and r["component"] == d for d, r in out.items())
    # raising the cap above the pile size re-enables pairing through
    # the (now within-cap) shared fingerprints -> the pile merges
    merged = {r["doc_id"]: r for r in winnow_components_from_fps(
        fps,
        docs.select(F.col("doc_id").cast("long")).distinct(),
        min_shared=2,
        max_bucket=1000,
    ).collect()}
    for i in range(10):
        assert merged[i]["component"] == 0 and merged[i]["keep"] == (i == 0)
    assert merged[100]["keep"] and merged[101]["keep"]


def test_simhash_pairs_match_bruteforce(spark):
    """Manku et al. pigeonhole pairing: within the bucket cap the
    operator's (a, b, hamming) set must EQUAL the brute-force
    all-pairs set at distance <= d — recall 1.0 by construction,
    exact hamming values, including the signed bit-63 path."""
    from neuroner_spark.operators.dedup import (
        blocked_from_signatures,
        simhash,
        simhash_pairs_from_blocked,
    )

    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(500)]
    rows, doc_id = [], 0
    for c in range(5):
        words = list(rng.choice(vocab, 100))
        rows.append((doc_id, " ".join(words)))
        doc_id += 1
        if c == 0:
            rows.append((doc_id, " ".join(words)))  # exact clone: hamming 0
        else:
            w2 = list(words)
            w2[int(rng.integers(0, 100))] = str(rng.choice(vocab))
            rows.append((doc_id, " ".join(w2)))  # 1-token swap: small hamming
        doc_id += 1
    for _ in range(10):
        rows.append((doc_id, " ".join(rng.choice(vocab, 100))))
        doc_id += 1
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    d = 4
    sh = {r["doc_id"]: r["simhash"] for r in simhash(corpus, bits=64).collect()}
    mask = (1 << 64) - 1
    expected = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sh[a] ^ sh[b]) & mask).count("1")
            if h <= d:
                expected.add((a, b, h))
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_pairs_from_blocked(
            blocked_from_signatures(simhash(corpus, bits=64), bits=64, max_hamming=d), d
        ).collect()
    }
    assert got == expected
    # the exact clone is in there at distance 0
    assert (0, 1, 0) in got


def test_simhash_pairs_hot_block_cap(spark):
    """A boilerplate pile above max_bucket never pairs (quadratic
    guard); it surfaces whole in the giant-block side output, while an
    under-cap cluster still pairs through the same blocked frame."""
    from neuroner_spark.operators.dedup import (
        blocked_from_signatures,
        capped_buckets,
        simhash,
        simhash_pairs_from_blocked,
    )

    small = "an unrelated trio document about streaming state and watermarks"
    rows = [(i, BASE) for i in range(20)] + [(100 + i, small) for i in range(3)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    blocked = blocked_from_signatures(simhash(corpus, bits=64), bits=64, max_hamming=3)
    pairs = {
        (r["a"], r["b"]) for r in simhash_pairs_from_blocked(blocked, 3, max_bucket=5).collect()
    }
    assert pairs == {(100, 101), (100, 102), (101, 102)}
    giants = capped_buckets(blocked, ["block_id", "block_val"], 5)[1].collect()
    # the 20-clone pile: all 4 pigeonhole blocks over cap, keep = min id
    assert len(giants) == 4
    assert all(g["n_docs"] == 20 and g["keep_id"] == 0 for g in giants)


def test_simhash_pairs_general_blocks_match_bruteforce(spark):
    """Manku's general operating point (n_blocks=8, d=3 -> C(8,3)=56
    tables, 40-bit keys): same brute-force equality as the default
    d+1-block case — hash-key collisions only ADD candidates and the
    exact verify removes them, so the scheme is exact at ANY block
    count."""
    from neuroner_spark.operators.dedup import (
        blocked_from_signatures,
        simhash,
        simhash_pairs_from_blocked,
    )

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(400)]
    rows, doc_id = [], 0
    for c in range(4):
        words = list(rng.choice(vocab, 120))
        rows.append((doc_id, " ".join(words)))
        doc_id += 1
        w2 = list(words)
        w2[int(rng.integers(0, 120))] = str(rng.choice(vocab))
        rows.append((doc_id, " ".join(w2)))
        doc_id += 1
    for _ in range(8):
        rows.append((doc_id, " ".join(rng.choice(vocab, 120))))
        doc_id += 1
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    d = 3
    sh = {r["doc_id"]: r["simhash"] for r in simhash(corpus, bits=64).collect()}
    mask = (1 << 64) - 1
    ids = sorted(sh)
    expected = {
        (a, b, bin((sh[a] ^ sh[b]) & mask).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sh[a] ^ sh[b]) & mask).count("1") <= d
    }
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_pairs_from_blocked(
            blocked_from_signatures(simhash(corpus, bits=64), bits=64, max_hamming=d, n_blocks=8), d
        ).collect()
    }
    assert got == expected
    # table-count guard: C(12, 3) = 220 > 64 must refuse
    with pytest.raises(ValueError):
        blocked_from_signatures(simhash(corpus, bits=64), bits=64, max_hamming=3, n_blocks=12)


def test_simhash_near_dedup_end_to_end(spark):
    """Full composition: a boilerplate pile over the cap collapses to
    one keep via giant-block star edges, a small near-dup cluster
    collapses via verified pairs, singletons (including an empty doc
    missing from the blocked frame) survive."""
    from neuroner_spark.operators.dedup import simhash_near_dedup

    rows = (
        [(i, BASE) for i in range(12)]
        + [(100, "shared niche sentence about iceberg manifests and snapshots"),
           (101, "shared niche sentence about iceberg manifests and snapshots"),
           (200, "a one-off survivor document describing watermark semantics in detail"),
           (300, "")]
    )
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in simhash_near_dedup(corpus, max_bucket=5).collect()}
    assert len(out) == 16
    # the 12-clone pile: one keep (min id), all in one component
    assert all(out[i]["component"] == 0 for i in range(12))
    assert [out[i]["keep"] for i in range(12)] == [True] + [False] * 11
    # the pair-path cluster
    assert out[100]["keep"] and not out[101]["keep"] and out[101]["component"] == 100
    # singletons and the empty doc survive
    assert out[200]["keep"] and out[300]["keep"]


def test_pq_train_deterministic_and_reconstructive():
    """PQ codebooks: same seed -> identical books; quantizing the
    training set must beat the trivial (all-zero) quantizer by a wide
    margin on reconstruction MSE."""
    from neuroner_spark.operators.similarity import pq_train

    rng = np.random.default_rng(3)
    x = rng.standard_normal((2000, 64))
    b1 = pq_train(x, m=8, nbits=4, iters=8, seed=42)
    b2 = pq_train(x, m=8, nbits=4, iters=8, seed=42)
    assert np.array_equal(b1, b2)
    assert b1.shape == (8, 16, 8)
    # encode/decode the training sample driver-side
    def recon_mse(books, m):
        sub = x.reshape(len(x), m, 64 // m)
        err = 0.0
        for j in range(m):
            d2 = ((sub[:, j, :][:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            err += d2.min(1).sum()
        return err / x.size

    # nbits=4 on N(0,1) is 0.5 bit/dim — distortion ~0.59·var here,
    # close to the Gaussian rate-distortion bound (0.5·var); the
    # meaningful contracts are (a) beating the zero quantizer and
    # (b) monotone improvement with codebook size
    mse4 = recon_mse(b1, 8)
    assert mse4 < 0.7 * x.var(), mse4
    mse8 = recon_mse(pq_train(x, m=8, nbits=8, iters=8, seed=42), 8)
    assert mse8 < mse4, (mse8, mse4)


def test_ivfpq_topk_recall_vs_exact(spark):
    """IVF-PQ ADC search + exact re-rank recovers the exact top-10 at
    full probe, and most of it probe-limited — on 32x-compressed codes
    (8 code bytes vs 256 float bytes per vector)."""
    from neuroner_spark.operators.similarity import cosine_topk, ivfpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
    corpus = emb.filter(F.col("vec_id") != 0)
    full = [
        r["vec_id"]
        for r in ivfpq_topk(corpus, qvec, k=10, n_cells=8, nprobe=8).collect()
    ]
    # full probe + exact re-rank of the 4k ADC pool == exact on this
    # corpus (the pool covers the true top-10; re-rank is exact cosine)
    assert full == exact, (full, exact)
    part = [
        r["vec_id"]
        for r in ivfpq_topk(corpus, qvec, k=10, n_cells=8, nprobe=4).collect()
    ]
    assert len(set(exact) & set(part)) >= 5, (exact, part)


def test_ivfpq_index_codes_shape(spark):
    """Codes table contract: one row per vector, m int codes in
    [0, 2**nbits), cell ids from the coarse quantizer."""
    from neuroner_spark.operators.similarity import ivfpq_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes, centroids, books = ivfpq_index(emb, n_cells=8, m=8, nbits=6)
    assert centroids.shape == (8, 64) and books.shape == (8, 64, 8)
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 64 for r in rows for c in r["codes"])
    assert all(0 <= r["cell"] < 8 for r in rows)


def test_ivfpq_knn_join_matches_exact_join(spark):
    """Batch ADC k-NN over the prebuilt index agrees with the exact
    broadcast k-NN join at full probe, and mostly probe-limited."""
    from neuroner_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_knn_join,
        knn_join_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .selectExpr("vec_id as q_id", "embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in knn_join_topk(corpus, queries, k=5).collect()
    }
    codes, cents, books = ivfpq_index(corpus, n_cells=8, m=8)
    # full probe + full re-rank pool is LOSSLESS by construction (the
    # exact-cosine re-rank sees every vector); the default 4k pool may
    # drop a boundary neighbor ADC mis-ranks — that's the knob, not a bug
    n_corpus = corpus.count()
    full = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in ivfpq_knn_join(
            codes, cents, books, corpus, queries, k=5, nprobe=8, rerank=n_corpus
        ).collect()
    }
    assert full == exact, (full, exact)
    part = ivfpq_knn_join(codes, cents, books, corpus, queries, k=5, nprobe=4).collect()
    by_q = {}
    for r in part:
        by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    exact_by_q = {}
    for (q, _), v in exact.items():
        exact_by_q.setdefault(q, set()).add(v)
    # probe-limited: at least half of each query's exact top-5 found
    for q in exact_by_q:
        assert len(by_q[q] & exact_by_q[q]) >= 2, (q, by_q[q], exact_by_q[q])


def test_incremental_near_dedup_against_signature_store(spark):
    """New snapshot dedups against the corpus via its banded signature
    table only: corpus near-dups flagged with their corpus rep,
    within-batch dups clustered, unique docs kept — and appending the
    kept docs' bands makes the NEXT snapshot see them as corpus."""
    from neuroner_spark.operators.dedup import incremental_near_dedup, minhash_banded

    corpus = spark.createDataFrame(
        [(0, BASE), (4, "completely different text about spark streaming windows and state")],
        "doc_id long, text string",
    )
    store = minhash_banded(corpus)
    fresh = "entirely novel content about product quantization and inverted files"
    batch = spark.createDataFrame(
        [
            (10, BASE),  # exact replica of corpus doc 0
            (11, BASE.replace("lazy", "sleepy")),  # near-dup of corpus doc 0
            (12, fresh),
            (13, fresh),  # within-batch dup of 12
            (14, "some other unique page text mentioning nothing seen before"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_near_dedup(batch, store, minhash_banded(batch)).collect()
    }
    assert len(out) == 5  # one row per new doc, nothing dropped
    assert out[10]["status"] == "dup_of_corpus" and out[10]["dup_of"] == 0
    assert out[11]["status"] == "dup_of_corpus" and out[11]["dup_of"] == 0
    assert out[12]["status"] == "kept" and out[12]["dup_of"] is None
    assert out[13]["status"] == "dup_of_batch" and out[13]["dup_of"] == 12
    assert out[14]["status"] == "kept"

    # ingest the kept docs: append their bands; a replica of doc 12 in
    # the next snapshot is now a CORPUS dup, not a batch dup
    kept_ids = [d for d, r in out.items() if r["status"] == "kept"]
    store2 = store.unionByName(
        minhash_banded(batch.filter(F.col("doc_id").isin(kept_ids)))
    )
    nxt = spark.createDataFrame([(20, fresh)], "doc_id long, text string")
    out2 = incremental_near_dedup(nxt, store2, minhash_banded(nxt)).collect()
    assert len(out2) == 1
    assert out2[0]["status"] == "dup_of_corpus" and out2[0]["dup_of"] == 12


def test_ivfpq_codes_partitioned_by_cell_prune(spark, tmp_path):
    """The production codes-table layout: written partitionBy(cell),
    a probe-limited search's `cell IN (...)` filter must PRUNE the
    scan to the probed cells' directories — the plan-level reason
    nprobe bounds IO, not just compute."""
    from neuroner_spark.operators.similarity import ivfpq_index, ivfpq_search

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes, cents, books = ivfpq_index(emb, n_cells=8, m=8)
    d = str(tmp_path / "codes")
    codes.write.partitionBy("cell").parquet(d)
    stored = spark.read.parquet(d)
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = ivfpq_search(stored, cents, books, emb, qvec, k=5, nprobe=2)
    pruned = stored.filter(F.col("cell").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # and the search itself still returns k ranked rows off the stored table
    rows = out.collect()
    assert len(rows) == 5 and [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]


def test_incremental_near_dedup_short_docs_kept(spark):
    """Docs too short to produce any 3-gram shingle must come back
    kept (no silent drop) — in both the corpus-hit and batch paths."""
    from neuroner_spark.operators.dedup import incremental_near_dedup, minhash_banded

    corpus = spark.createDataFrame([(0, BASE)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "tiny"), (11, ""), (12, BASE)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_near_dedup(
            batch, minhash_banded(corpus), minhash_banded(batch)
        ).collect()
    }
    assert len(out) == 3
    assert out[10]["status"] == "kept" and out[11]["status"] == "kept"
    assert out[12]["status"] == "dup_of_corpus" and out[12]["dup_of"] == 0
