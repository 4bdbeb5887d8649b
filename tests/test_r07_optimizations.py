"""Focused equivalence tests for the round-7 plan-shape rewrites.

Each r7 optimization changed an operator's INTERNALS while promising
byte-identical output; these tests pin the promise with targeted edge
inputs (beyond the sf0.01 oracle fixtures).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _tokens(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, sent_id long, pos int, token string, start long, end long, "
        "gold string, pred string",
    )


def test_conlleval_rollup_matches_reference_counts(spark):
    """The one-pass rollup rewrite must reproduce the full-outer-join
    semantics on a hand-built case covering: exact match (tp), type
    confusion (fp+fn), pred-only span (fp), gold-only span (fn), and a
    boundary mismatch (fp+fn)."""
    rows = [
        # d0 s0: gold B-A I-A == pred  -> tp A
        ("d0", 0, 0, "a", 0, 1, "B-A", "B-A"),
        ("d0", 0, 1, "b", 1, 2, "I-A", "I-A"),
        # d0 s1: gold B-A, pred B-B    -> fn A, fp B (type confusion)
        ("d0", 1, 0, "c", 0, 1, "B-A", "B-B"),
        # d1 s0: pred-only span        -> fp B
        ("d1", 0, 0, "d", 0, 1, "O", "B-B"),
        # d1 s1: gold-only span        -> fn C
        ("d1", 1, 0, "e", 0, 1, "B-C", "O"),
        # d2 s0: boundary mismatch (gold 2 tokens, pred 1) -> fn A + fp A
        ("d2", 0, 0, "f", 0, 1, "B-A", "B-A"),
        ("d2", 0, 1, "g", 1, 2, "I-A", "O"),
    ]
    from neuroner_spark.operators.metrics import conlleval_f1

    got = {r["type"]: (r["tp"], r["fp"], r["fn"]) for r in conlleval_f1(_tokens(spark, rows)).collect()}
    assert got["A"] == (1, 1, 2)
    assert got["B"] == (0, 2, 0)
    assert got["C"] == (0, 0, 1)
    assert got["ALL"] == (1, 3, 3)
    # ALL row is the exact sum of the per-type rows (rollup invariant)
    assert got["ALL"] == tuple(
        sum(got[t][i] for t in ("A", "B", "C")) for i in range(3)
    )


def test_conlleval_empty_span_edge_is_empty_frame(spark):
    """r7 documented edge: zero gold AND zero pred spans -> empty frame
    (the pre-r7 shape returned one ALL row with NULL counts).  The
    training early-stop caller guards this; pin the new contract."""
    rows = [("d0", 0, 0, "a", 0, 1, "O", "O"), ("d0", 0, 1, "b", 1, 2, "O", "O")]
    from neuroner_spark.operators.metrics import conlleval_f1

    assert conlleval_f1(_tokens(spark, rows)).count() == 0


def test_simhash_all_docs_param_is_output_equivalent(spark):
    """q_simhash's all_docs=signatures shortcut: for every doc that HAS
    a signature, component/keep must equal the default-path answer; the
    final inner join on signatures makes the outputs identical."""
    import pandas as pd

    texts = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),  # exact dup of 0
        (2, "completely different words here"),
        (3, None),  # null text: no token rows, no signature
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    from neuroner_spark.operators.dedup import simhash, simhash_near_dedup

    sig = simhash(docs, bits=32).localCheckpoint()
    default_nd = simhash_near_dedup(docs, bits=32, max_hamming=1, signatures=sig)
    fast_nd = simhash_near_dedup(
        docs, bits=32, max_hamming=1, signatures=sig, all_docs=sig.select("doc_id")
    )
    a = sig.join(default_nd, "doc_id").select("doc_id", "simhash", "component", "keep")
    b = sig.join(fast_nd, "doc_id").select("doc_id", "simhash", "component", "keep")
    pa = a.orderBy("doc_id").toPandas()
    pb = b.orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(pa, pb)
    # and the default path still reports the signature-less doc
    assert default_nd.filter(F.col("doc_id") == 3).count() == 1
    assert {r["doc_id"] for r in pa.to_dict("records")} == {0, 1, 2}


def test_match_mentions_single_window_longest_and_containment(spark):
    """The merged-window resolution must keep: longest-per-pos wins,
    strictly-contained hits drop, staggered partial overlaps BOTH
    survive (the r7 single-spec rewrite's exact invariants)."""
    from neuroner_spark.operators.gazetteer import match_mentions

    # sentence: "merge sort merge sort x"
    toks = [
        ("d", 0, 0, "merge", 0, 5),
        ("d", 0, 1, "sort", 6, 10),
        ("d", 0, 2, "merge", 11, 16),
        ("d", 0, 3, "sort", 17, 21),
        ("d", 0, 4, "x", 22, 23),
    ]
    tokens = spark.createDataFrame(
        toks, "doc_id string, sent_id long, pos int, token string, start long, end long"
    )
    aliases = spark.createDataFrame(
        [
            ("merge sort", "merge sort", 1, "Merge Sort", 1.0),
            ("sort", "sort", 2, "Sort", 1.0),
            ("sort merge", "sort merge", 3, "Sort Merge", 1.0),
        ],
        "alias string, alias_norm string, entity_id long, canonical_name string, prior double",
    )
    got = {
        (r["pos"], r["n"], r["surface_norm"])
        for r in match_mentions(tokens, aliases).collect()
    }
    # pos0 'merge sort' (longest at 0), pos1 'sort merge' (staggered
    # overlap with pos0 — kept, not contained), pos2 'merge sort',
    # pos3 bare 'sort' IS contained in pos2's bigram -> dropped
    assert got == {
        (0, 2, "merge sort"),
        (1, 2, "sort merge"),
        (2, 2, "merge sort"),
    }


def test_local_df_localrelation_and_parity(spark):
    """io.local_df must plan a LocalRelation (isLocal) and return the
    same rows/schema as the classic list createDataFrame — including
    the empty-frame and None-row shapes the callers rely on."""
    import pandas as pd

    from neuroner_spark.io import local_df

    rows = [("a", 1, 0.5), ("b", 2, None)]
    ddl = "name string, n long, score double"
    got = local_df(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.isLocal()
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    # canonical_map's fallback shape: all-None row filtered by caller
    nn = local_df(spark, [(None, None)], "entity_id long, canonical_id long")
    assert nn.filter(F.col("entity_id").isNotNull()).count() == 0
    # empty frame with schema
    empty = local_df(spark, [], "doc_id long, band_id int, band_hash long")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<doc_id:bigint,band_id:int,band_hash:bigint>"
    # pandas passthrough
    pdf = pd.DataFrame({"x": [1, 2], "y": ["u", "v"]})
    assert sorted(map(tuple, local_df(spark, pdf, "x long, y string").collect())) == [
        (1, "u"),
        (2, "v"),
    ]
    # nested-type DDL: inner commas do not split the column list
    nested = local_df(
        spark, [(1, [0.5], {"k": 2})], "cell int, centroid array<double>, m map<string,int>"
    )
    assert nested.columns == ["cell", "centroid", "m"]
    assert nested.collect()[0]["m"] == {"k": 2}


def test_local_df_fallback_reads_a_generator_once(spark, monkeypatch, caplog):
    """When pandas/Arrow refuses the rows, local_df says so in one
    warning line and builds the frame from the rows it already read:
    a generator input is not re-read (and found empty) on that path."""
    import logging

    import pandas as pd
    import pyarrow as pa

    from neuroner_spark.io import local_df

    real = spark.createDataFrame

    def arrow_refuses(data, schema=None, *args, **kwargs):
        if isinstance(data, pd.DataFrame):
            raise pa.ArrowInvalid("refused")
        return real(data, schema, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", arrow_refuses)
    rows = [("a", 1), ("b", 2)]
    with caplog.at_level(logging.WARNING, logger="neuroner_spark.io"):
        got = local_df(spark, (r for r in rows), "name string, n long")
    assert sorted(map(tuple, got.collect())) == rows
    assert [r.levelname for r in caplog.records if r.name == "neuroner_spark.io"] == ["WARNING"]


def test_local_df_null_bearing_long_keeps_every_bit(spark):
    """A long column holding nulls must not round-trip through float64:
    2**53 + 1 is not representable there."""
    from neuroner_spark.io import local_df

    big = (1 << 53) + 1
    got = local_df(spark, [(big, "x"), (None, "y")], "id long, tag string")
    assert got.isLocal()
    assert sorted(got.collect(), key=lambda r: r["tag"]) == [(big, "x"), (None, "y")]


def test_write_table_read_back_runs_no_job(spark, tmp_path):
    """``io.write_table`` reads its partition back with the written
    frame's schema: it runs the jobs of a plain write and no more (a
    schema inferred from the files would cost one), and the frame it
    returns has the schema ``spark.read.parquet`` infers there."""
    from neuroner_spark.io import write_table

    df = spark.range(6).select(
        "id", (F.col("id") * 2).cast("int").alias("x"), F.lit("t").alias("s")
    )
    sc = spark.sparkContext

    def n_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, plain = n_jobs("plain_write", lambda: df.write.parquet(str(tmp_path / "plain")))
    path = str(tmp_path / "t")
    out, written = n_jobs("write_table", lambda: write_table(df, path))
    assert written == plain
    assert out.schema == spark.read.parquet(path).schema
    assert sorted(out.collect()) == sorted(df.collect())


def test_tokenize_ascii_vector_path_parity(spark):
    """The r7 batch-vectorized ASCII tokenizer path must emit exactly
    the reference ``tokenize_text`` rows — across edge chars, empty
    strings, None texts, multi-sentence docs, and the non-ASCII docs
    that route to the fallback loop in the same batch."""
    import random

    from neuroner_spark.functions.tokenize import tokenize, tokenize_text

    random.seed(7)
    alphabet = "ab Z9_ .!?,-\t\n\x0b~`'\"()<>[]{}:;/\\|@#$%^&*+="
    docs = []
    for i in range(60):
        docs.append((str(i), "".join(random.choice(alphabet) for _ in range(random.randrange(0, 150)))))
    docs += [
        ("e0", ""),
        ("e1", None),
        ("e2", "One. Two! Three? four"),
        ("u0", "café naïve résumé. 中文!"),  # non-ASCII fallback
        ("u1", "mixed ascii then € euro."),
        ("a0", "".join(chr(c) for c in range(1, 128))),  # full ASCII coverage
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {}
    for r in tokenize(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["sent_id"], r["pos"], r["token"], r["start"], r["end"])
        )
    for doc_id, text in docs:
        if text is None:
            assert doc_id not in got
            continue
        ref = tokenize_text(text)
        assert sorted(got.get(doc_id, [])) == sorted(ref), doc_id
