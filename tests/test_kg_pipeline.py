"""North-rule pipeline tests: end-to-end triples, linking determinism,
resume-from-checkpoint, and the P/R>=0.95 gate vs frozen goldens."""

import json
import os

import pytest
from pyspark.sql import functions as F

from neuroner_spark.fixtures.gen import alias_df, pages_df
from neuroner_spark.plans.kg_pipeline import run_pipeline

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens")


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_out"))
    pages = pages_df(spark, 200)
    aliases = alias_df(spark)
    res = run_pipeline(spark, pages, aliases, out, resume=True, use_fuzzy=False)
    # materialize eagerly: later tests rerun the pipeline into the same
    # dir (overwriting stage parquet under these lazy DataFrames)
    res["triple_rows"] = res["triples"].collect()
    res["n_entities"] = res["entities"].count()
    return res, out, pages, aliases


def test_triples_nonempty_and_shaped(pipeline_out):
    res, _out, _p, _a = pipeline_out
    assert set(res["triples"].columns) == {"subj", "pred", "obj", "url", "warc_ts"}
    rows = res["triple_rows"]
    assert len(rows) > 0
    assert {r["pred"] for r in rows} <= {"same_sentence_as", "near", "co_occurs_with"}
    assert all(r["subj"] < r["obj"] for r in rows)


def test_canonicalization_merges_shared_aliases(pipeline_out):
    res, _out, _p, aliases = pipeline_out
    # ambiguous aliases exist in the fixture -> at least one merge
    n_entities = aliases.select("entity_id").distinct().count()
    assert res["n_entities"] < n_entities


def test_resume_skips_stages(spark, pipeline_out):
    res, out, pages, aliases = pipeline_out
    res2 = run_pipeline(spark, pages, aliases, out, resume=True, use_fuzzy=False)
    assert all(m.get("resumed") for m in res2["lineage"]), res2["lineage"]
    # identical output after resume
    t1 = sorted(map(tuple, res["triple_rows"]))
    t2 = sorted(map(tuple, res2["triples"].collect()))
    assert t1 == t2


def test_run_pipeline_releases_its_pins(spark, tmp_path, new_pinned):
    """Every frame a batch run returns reads its stage back from disk,
    so nothing the run pinned (the triples' mention checkpoint, the
    canonical map's edge checkpoint) may stay pinned after it."""
    res = run_pipeline(spark, pages_df(spark, 50), alias_df(spark), str(tmp_path / "kg"))
    assert res["triples"].count() > 0
    assert not new_pinned(0)


def test_canonical_map_distributed_fallback_parity(spark):
    """small_threshold=0 forces the distributed connected-components
    branch; its mapping must equal the driver union-find path's."""
    from neuroner_spark.plans.kg_pipeline import canonical_map

    aliases = alias_df(spark)
    small = {(r["entity_id"], r["canonical_id"]) for r in canonical_map(aliases).collect()}
    dist = {
        (r["entity_id"], r["canonical_id"])
        for r in canonical_map(aliases, small_threshold=0).collect()
    }
    assert small == dist and len(small) > 0


def test_gazetteer_greedy_nonoverlap(spark):
    """overlap='greedy' enforces strict left-to-right non-overlap on
    staggered matches; the default containment mode keeps both (oracle
    semantics unchanged)."""
    from neuroner_spark.operators.gazetteer import match_mentions

    toks = spark.createDataFrame(
        [
            ("d", 0, i, t, i * 5, i * 5 + 4)
            for i, t in enumerate("alpha beta gamma delta epsilon zeta".split())
        ],
        "doc_id string, sent_id long, pos int, token string, start long, end long",
    )
    aliases = spark.createDataFrame(
        [
            ("alpha beta gamma", "alpha beta gamma", 1, "X", 1.0),
            ("gamma delta epsilon", "gamma delta epsilon", 2, "Y", 1.0),
            ("epsilon zeta", "epsilon zeta", 3, "Z", 1.0),
        ],
        "alias string, alias_norm string, entity_id long, canonical_name string, prior double",
    )
    contain = [
        (r["pos"], r["n"])
        for r in match_mentions(toks, aliases).orderBy("pos").collect()
    ]
    assert contain == [(0, 3), (2, 3), (4, 2)]  # staggered overlap kept
    greedy = [
        (r["pos"], r["n"])
        for r in match_mentions(toks, aliases, overlap="greedy").orderBy("pos").collect()
    ]
    # pos-2 hit overlaps the kept pos-0 hit (ends at 2) -> dropped;
    # pos-4 starts past it -> kept
    assert greedy == [(0, 3), (4, 2)]
    with pytest.raises(ValueError):
        match_mentions(toks, aliases, overlap="nope")


def test_co_occurrence_skew_cap(spark):
    """A directory-style doc with more distinct entities than the cap
    emits NO co_occurs_with pairs (quadratic blow-up guard); its
    sentence-bounded triples survive, small docs are untouched, and the
    capped doc is listed in the audit side output."""
    from neuroner_spark.plans.kg_pipeline import (
        co_occurrence_capped_docs,
        triples_from_linked,
    )

    big = [("big", i, 0, 100 + i) for i in range(300)]  # 1 entity/sentence
    small = [("small", 0, 0, 1), ("small", 0, 1, 2)]
    linked = spark.createDataFrame(
        big + small, "doc_id string, sent_id long, pos int, entity_id long"
    )
    canon = spark.createDataFrame(
        [(i, i) for i in list(range(1, 3)) + list(range(100, 400))],
        "entity_id long, canonical_id long",
    )
    meta = spark.createDataFrame(
        [("big", None), ("small", None)], "url string, warc_ts timestamp"
    )
    trips = triples_from_linked(linked, canon, meta, max_entities_per_doc=100).collect()
    co = [(r["url"], r["subj"], r["obj"]) for r in trips if r["pred"] == "co_occurs_with"]
    assert co == [("small", 1, 2)]  # big doc's 300*299/2 pairs suppressed
    # bounded predicates still emitted for the small doc
    assert any(r["pred"] == "same_sentence_as" and r["url"] == "small" for r in trips)
    capped = co_occurrence_capped_docs(linked, canon, max_entities_per_doc=100).collect()
    assert [(r["doc_id"], r["n_ents"]) for r in capped] == [("big", 300)]
    # cap above the doc's entity count -> full quadratic output restored
    full = triples_from_linked(linked, canon, meta, max_entities_per_doc=1000)
    n_co_big = full.filter((F.col("pred") == "co_occurs_with") & (F.col("url") == "big")).count()
    assert n_co_big == 300 * 299 // 2


def test_pipeline_records_capped_docs_stage(pipeline_out):
    """The skew cap leaves an audit trail: the co_occurs_capped stage
    is materialized with its own manifest (0 rows on the fixture)."""
    res, out, _p, _a = pipeline_out
    by_stage = {m["stage"]: m for m in res["lineage"]}
    assert by_stage["co_occurs_capped"]["n_rows"] == 0
    assert os.path.exists(os.path.join(out, "co_occurs_capped", "_manifest.json"))
    assert res["co_occurs_capped"].count() == 0


def test_input_change_invalidates_checkpoint(spark, pipeline_out):
    _res, out, pages, aliases = pipeline_out
    fewer = pages.limit(150)
    res3 = run_pipeline(spark, fewer, aliases, out, resume=True, use_fuzzy=False)
    # canonical stage depends only on aliases -> resumed; page stages rebuilt
    by_stage = {m["stage"]: m for m in res3["lineage"]}
    assert not by_stage["normalized"].get("resumed")
    assert by_stage["canonical"].get("resumed")


def _prf(got: set, want: set):
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    return precision, recall


def test_triples_match_golden(pipeline_out):
    """FIXTURES.md §4: P/R >= 0.95 vs frozen golden triples (exact ids)."""
    res, _out, _p, _a = pipeline_out
    got = {(r["subj"], r["pred"], r["obj"], r["url"]) for r in res["triple_rows"]}
    golden_path = os.path.join(GOLDEN_DIR, "gold_triples.json")
    if not os.path.exists(golden_path):
        os.makedirs(GOLDEN_DIR, exist_ok=True)
        with open(golden_path, "w") as f:
            json.dump(sorted([list(t) for t in got]), f)
        pytest.skip("golden frozen on first run")
    with open(golden_path) as f:
        want = {tuple(t) for t in json.load(f)}
    precision, recall = _prf(got, want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_fuzzy_linking_covers_typos(spark):
    """J9: a typo'd mention (no exact alias) still links via MinHashLSH."""
    from neuroner_spark.operators.linking import link_mentions

    aliases = alias_df(spark)
    mention_rows = [
        # 'Alder Analytics' with a dropped char -> no exact match
        ("d1", 0, 0, 2, "Aldr Analytics", "aldr analytics", 0, 14),
    ]
    mentions = spark.createDataFrame(
        mention_rows,
        "doc_id string, sent_id long, pos int, n int, surface string, surface_norm string, start long, end long",
    )
    linked = link_mentions(mentions, aliases, use_fuzzy=True)
    rows = linked.collect()
    assert len(rows) == 1
    assert rows[0]["canonical_name"] == "Alder Analytics"


def test_neural_pipeline_end_to_end(spark, tmp_path):
    """North-star core path: BiLSTM-CRF mentions feed linking/triples."""
    from neuroner_spark.fixtures.gen import alias_df, pages_df
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.weights import build_vocab, make_bundle
    from neuroner_spark.plans.kg_pipeline import normalize_pages

    pages = pages_df(spark, 80)
    toks = tokenize(normalize_pages(pages))
    vocab = build_vocab([r["token"] for r in toks.select("token").collect()])
    bundle = make_bundle(vocab, seed=42)
    out = str(tmp_path / "neural_out")
    res = run_pipeline(
        spark, pages, alias_df(spark), out,
        resume=True, mention_source="neural", bundle=bundle,
    )
    lineage = {m["stage"]: m for m in res["lineage"]}
    assert lineage["mentions"]["n_rows"] > 0
    # per-partition lineage recorded (skew instrument)
    assert "partition_rows_max" in lineage["mentions"]
    # deterministic: resume reproduces identical triples
    t1 = sorted(map(tuple, res["triples"].collect()))
    res2 = run_pipeline(
        spark, pages, alias_df(spark), out,
        resume=True, mention_source="neural", bundle=bundle,
    )
    assert all(m.get("resumed") for m in res2["lineage"])
    assert sorted(map(tuple, res2["triples"].collect())) == t1


def test_mention_source_switch_invalidates_downstream(spark, tmp_path):
    """ADVICE fix: switching gazetteer -> neural with resume=True must
    rebuild mentions AND linked AND triples (the mention-source is part
    of every downstream fingerprint), while page/canonical stages keyed
    only on unchanged inputs resume; retraining the bundle (out_W
    change) must also invalidate, and changed page TEXT under the same
    urls must invalidate the page stages."""
    import numpy as np

    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.weights import build_vocab, make_bundle
    from neuroner_spark.plans.kg_pipeline import normalize_pages

    pages = pages_df(spark, 60)
    aliases = alias_df(spark)
    out = str(tmp_path / "switch_out")
    run_pipeline(spark, pages, aliases, out, resume=True)

    toks = tokenize(normalize_pages(pages))
    vocab = build_vocab([r["token"] for r in toks.select("token").collect()])
    bundle = make_bundle(vocab, seed=42)
    res2 = run_pipeline(
        spark, pages, aliases, out, resume=True, mention_source="neural", bundle=bundle
    )
    by = {m["stage"]: m for m in res2["lineage"]}
    for stage in ("mentions", "linked", "triples"):
        assert not by[stage].get("resumed"), stage
    for stage in ("normalized", "tokens", "canonical"):
        assert by[stage].get("resumed"), stage

    # retrained head (out_W changed, crf_transitions identical) -> the
    # full-weight digest must invalidate mentions again
    b2 = dict(bundle, arrays={k: v.copy() for k, v in bundle["arrays"].items()})
    b2["arrays"]["out_W"] = b2["arrays"]["out_W"] + np.float32(0.01)
    res3 = run_pipeline(
        spark, pages, aliases, out, resume=True, mention_source="neural", bundle=b2
    )
    by3 = {m["stage"]: m for m in res3["lineage"]}
    assert not by3["mentions"].get("resumed")

    # same urls, different text -> page fingerprint changes
    changed = pages.withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    res4 = run_pipeline(spark, changed, aliases, out, resume=True)
    by4 = {m["stage"]: m for m in res4["lineage"]}
    assert not by4["normalized"].get("resumed")


def test_neural_pipeline_hashed_vocab_bundle(spark, tmp_path):
    """Collect-free encoder path end-to-end: a hashed-vocab bundle
    (vocab=None, feature-hashed ids) runs the neural pipeline and its
    fingerprint uses vocab_size (len(None) used to TypeError here)."""
    from neuroner_spark.model.weights import make_bundle

    pages = pages_df(spark, 40)
    bundle = make_bundle(512, seed=42)  # int -> hashed mode, vocab=None
    out = str(tmp_path / "hashed_out")
    res = run_pipeline(
        spark, pages, alias_df(spark), out, resume=True,
        mention_source="neural", bundle=bundle,
    )
    by = {m["stage"]: m for m in res["lineage"]}
    assert by["mentions"]["n_rows"] >= 0  # ran without TypeError
    # resume works with the hashed fingerprint too
    res2 = run_pipeline(
        spark, pages, alias_df(spark), out, resume=True,
        mention_source="neural", bundle=bundle,
    )
    assert all(m.get("resumed") for m in res2["lineage"])


def test_verb_triples_semantics(spark):
    """OpenIE-lite contract (r6): DIRECTED subj->obj, pred = lexicon
    verb nearest the subject strictly between the spans, mention gap
    bounded, identical canonical ids never pair."""
    from neuroner_spark.plans.kg_pipeline import (
        DEFAULT_VERB_LEXICON,
        verb_triples_from_mentions,
    )

    # sentence: Alder Analytics group the Birch Systems filter Cedar Works
    #           0     1         2     3   4     5       6      7     8
    toks = [
        "Alder", "Analytics", "group", "the", "Birch", "Systems",
        "filter", "Cedar", "Works",
    ]
    tokens = spark.createDataFrame(
        [("d1", 0, i, t) for i, t in enumerate(toks)],
        "doc_id string, sent_id int, pos int, token string",
    )
    m = spark.createDataFrame(
        [("d1", 0, 0, 2, 1), ("d1", 0, 4, 2, 2), ("d1", 0, 7, 2, 3)],
        "doc_id string, sent_id int, pos int, n int, ent long",
    )
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in verb_triples_from_mentions(m, tokens, DEFAULT_VERB_LEXICON).collect()
    }
    assert got == {
        (1, "group", 2),   # 'group' at pos 2, between spans [0,2) and [4,6)
        (1, "group", 3),   # nearest-subject rule: 'group' beats 'filter'
        (2, "filter", 3),  # 'filter' at pos 6, between [4,6) and [7,9)
    }
    # direction: no obj->subj mirror
    assert (2, "group", 1) not in got and (3, "filter", 2) not in got

    # gap bound: same sentence, mentions 10 tokens apart -> dropped
    far_tokens = spark.createDataFrame(
        [("d2", 0, i, "filter" if i == 3 else "x") for i in range(15)],
        "doc_id string, sent_id int, pos int, token string",
    )
    far_m = spark.createDataFrame(
        [("d2", 0, 0, 1, 1), ("d2", 0, 12, 1, 2)],
        "doc_id string, sent_id int, pos int, n int, ent long",
    )
    assert (
        verb_triples_from_mentions(far_m, far_tokens, DEFAULT_VERB_LEXICON).count() == 0
    )
    # same canonical id on both sides never pairs (coref repeats)
    self_m = spark.createDataFrame(
        [("d2", 0, 0, 1, 1), ("d2", 0, 5, 1, 1)],
        "doc_id string, sent_id int, pos int, n int, ent long",
    )
    assert (
        verb_triples_from_mentions(self_m, far_tokens, DEFAULT_VERB_LEXICON).count() == 0
    )
    # no lexicon verb between -> no triple (adjacent mentions)
    adj_m = spark.createDataFrame(
        [("d2", 0, 0, 1, 1), ("d2", 0, 1, 1, 2)],
        "doc_id string, sent_id int, pos int, n int, ent long",
    )
    assert (
        verb_triples_from_mentions(adj_m, far_tokens, DEFAULT_VERB_LEXICON).count() == 0
    )


def test_verb_type_constraints_semantics(spark):
    """r6 typed-verb whitelist: pred = nearest ALLOWED verb (earlier
    disallowed verbs are skipped, not fatal), non-whitelisted type
    pairs drop, and untyped mentions drop (closed-world)."""
    from neuroner_spark.plans.kg_pipeline import (
        DEFAULT_VERB_LEXICON,
        verb_triples_from_mentions,
    )

    # sentence: Alder Analytics group the Birch Systems filter Cedar Works
    #           0     1         2     3   4     5       6      7     8
    toks = [
        "Alder", "Analytics", "group", "the", "Birch", "Systems",
        "filter", "Cedar", "Works",
    ]
    tokens = spark.createDataFrame(
        [("d1", 0, i, t) for i, t in enumerate(toks)],
        "doc_id string, sent_id int, pos int, token string",
    )
    m = spark.createDataFrame(
        [("d1", 0, 0, 2, 1), ("d1", 0, 4, 2, 2), ("d1", 0, 7, 2, 3)],
        "doc_id string, sent_id int, pos int, n int, ent long",
    )
    types = spark.createDataFrame(
        [(1, "ORG"), (2, "OP"), (3, "OP")], "ent long, etype string"
    )

    def run(cons, ty=types):
        return {
            (r["subj"], r["pred"], r["obj"])
            for r in verb_triples_from_mentions(
                m, tokens, DEFAULT_VERB_LEXICON,
                entity_types=ty, type_constraints=cons,
            ).collect()
        }

    # only OP->OP via 'filter' allowed: the ORG-subject pairs drop
    assert run([("filter", "OP", "OP")]) == {(2, "filter", 3)}
    # nearest-ALLOWED semantics: for pair 1->3 the nearest verb is
    # 'group' (disallowed) — the allowed 'filter' further out wins;
    # pair 1->2 has ONLY 'group' between -> drops entirely
    assert run([("filter", "ORG", "OP")]) == {(1, "filter", 3)}
    # vs the untyped pred for the same pair (the knob changes selection)
    untyped = {
        (r["subj"], r["pred"], r["obj"])
        for r in verb_triples_from_mentions(m, tokens, DEFAULT_VERB_LEXICON).collect()
    }
    assert (1, "group", 3) in untyped
    # closed-world: ent 2 has no type row -> its pairs drop even under
    # a fully-permissive whitelist for the typed entities
    no2 = spark.createDataFrame([(1, "ORG"), (3, "OP")], "ent long, etype string")
    allow_all = [(v, s, o) for v in DEFAULT_VERB_LEXICON
                 for s in ("ORG", "OP") for o in ("ORG", "OP")]
    assert run(allow_all, ty=no2) == {(1, "group", 3)}
    # empty whitelist -> empty family (never an error)
    assert run([("nosuchverb", "ORG", "OP")]) == set()
    # DataFrame-shaped whitelist: consumed by COLUMN NAME, so a
    # shuffled column order must not remap the verb
    cons_df = spark.createDataFrame(
        [("OP", "filter", "OP")], "subj_type string, pred string, obj_type string"
    )
    assert run(cons_df) == {(2, "filter", 3)}


def test_canonical_entity_types_mode_tiebreak(spark):
    """canonical_entity_types: mode of member types per canonical id,
    ties resolved to the lexicographically smallest type."""
    from neuroner_spark.plans.kg_pipeline import canonical_entity_types

    raw = spark.createDataFrame(
        [(1, "ORG"), (2, "PRODUCT"), (3, "OP"), (4, "ORG"), (5, "ORG"),
         (6, "PRODUCT")],
        "entity_id long, entity_type string",
    )
    canon = spark.createDataFrame(
        # group 10 = {1,2}: ORG/PRODUCT tie -> ORG (min);
        # group 20 = {4,5,6}: ORG x2 beats PRODUCT x1; 3 is a singleton
        [(1, 10), (2, 10), (3, 3), (4, 20), (5, 20), (6, 20)],
        "entity_id long, canonical_id long",
    )
    got = {r["ent"]: r["etype"] for r in canonical_entity_types(raw, canon).collect()}
    assert got == {10: "ORG", 3: "OP", 20: "ORG"}


def test_pipeline_verb_lexicon_fingerprint(spark, tmp_path):
    """Toggling verb_lexicon invalidates ONLY the triples stage
    (fingerprint change); the verb-on run emits lexicon preds."""
    from neuroner_spark.plans.kg_pipeline import DEFAULT_VERB_LEXICON

    pages = pages_df(spark, 60)
    out = str(tmp_path / "verb_out")
    run_pipeline(spark, pages, alias_df(spark), out, resume=True)
    res2 = run_pipeline(
        spark, pages, alias_df(spark), out, resume=True,
        verb_lexicon=DEFAULT_VERB_LEXICON,
    )
    by = {m["stage"]: m for m in res2["lineage"]}
    assert by["tokens"].get("resumed") and by["linked"].get("resumed")
    assert not by["triples"].get("resumed")  # fingerprint changed
    preds = {
        r["pred"] for r in res2["triples"].select("pred").distinct().collect()
    }
    assert preds & set(DEFAULT_VERB_LEXICON), preds
    assert {"same_sentence_as", "co_occurs_with"} <= preds


def test_incremental_canonical_store(spark, tmp_path):
    """Snapshot store for issued entity ids: stability across
    snapshots, superseded audit per snapshot, retry-overwrite
    idempotence, reader = latest mapping partition only."""
    import os

    from neuroner_spark.plans.kg_pipeline import run_incremental_canonical

    store = str(tmp_path / "canon_store")

    def edges(rows):
        return spark.createDataFrame(rows, "src long, dst long")

    r0 = run_incremental_canonical(spark, edges([(10, 11), (20, 21)]), store, 0)
    assert r0["mapping"].count() == 4 and r0["superseded"].count() == 0
    m0 = {r["entity_id"]: r["canonical_id"] for r in r0["mapping"].collect()}
    assert m0 == {10: 10, 11: 10, 20: 20, 21: 20}

    # snapshot 1 merges the two issued components -> 20 retires into 10
    r1 = run_incremental_canonical(spark, edges([(11, 21)]), store, 1)
    m1 = {r["entity_id"]: r["canonical_id"] for r in r1["mapping"].collect()}
    assert m1 == {10: 10, 11: 10, 20: 10, 21: 10}
    assert {(r["old_canonical_id"], r["canonical_id"]) for r in r1["superseded"].collect()} == {
        (20, 10)
    }

    # snapshot 2: lower-id newcomer joins -> issued id 10 is KEPT
    r2 = run_incremental_canonical(spark, edges([(3, 21)]), store, 2)
    m2 = {r["entity_id"]: r["canonical_id"] for r in r2["mapping"].collect()}
    assert m2 == {3: 10, 10: 10, 11: 10, 20: 10, 21: 10}
    assert r2["superseded"].count() == 0

    # retry of snapshot 1 overwrites its own partition, result unchanged
    r1b = run_incremental_canonical(spark, edges([(11, 21)]), store, 1)
    assert {r["entity_id"]: r["canonical_id"] for r in r1b["mapping"].collect()} == m1
    # snapshot 0's superseded audit partition untouched by later writes
    assert sorted(os.listdir(os.path.join(store, "superseded"))) == [
        "snapshot=0", "snapshot=1", "snapshot=2",
    ]


def test_rekey_triples_through_superseded(spark):
    """Downstream re-key: retired ids rewrite in place, symmetric preds
    re-normalize to subj<obj, directed verb preds keep orientation,
    merge-residue self-loops drop, collapsed duplicates fold."""
    from neuroner_spark.plans.kg_pipeline import rekey_triples

    triples = spark.createDataFrame(
        [
            (10, "near", 20, "u1"),            # -> self-loop, dropped
            (10, "co_occurs_with", 30, "u1"),  # untouched
            (15, "near", 20, "u2"),            # -> (10, near, 15): order flips
            (5, "filter", 20, "u2"),           # directed: (5, filter, 10)
            (20, "query", 30, "u3"),           # directed subj rewrite: (10, query, 30)
            (10, "near", 15, "u2"),            # collapses with the flipped row
        ],
        "subj long, pred string, obj long, url string",
    )
    superseded = spark.createDataFrame(
        [(20, 10)], "old_canonical_id long, canonical_id long"
    )
    got = {
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in rekey_triples(triples, superseded).collect()
    }
    assert got == {
        (10, "co_occurs_with", 30, "u1"),
        (10, "near", 15, "u2"),
        (5, "filter", 10, "u2"),
        (10, "query", 30, "u3"),
    }


def test_run_incremental_kg_lifecycle(spark, tmp_path):
    """Full incremental composition: dedup gate drops a re-crawled
    page; same-as evidence merges issued ids with a superseded record;
    the append-only triple store re-keys at read time; retry is
    idempotent."""
    import datetime as dt

    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.plans.kg_pipeline import read_kg_triples, run_incremental_kg

    store = str(tmp_path / "kg_store")
    aliases = _aliases(spark)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def pages(rows):
        return spark.createDataFrame(
            [(u, ts, t, "en") for u, t in rows],
            "url string, warc_ts timestamp, text string, lang string",
        )

    p_sort = (
        "the merge sort beats the window every day for sure in every case"
    )
    r0 = run_incremental_kg(
        spark,
        pages([("https://a/1", p_sort)]),
        aliases,
        store,
        0,
    )
    t0 = {(r["subj"], r["pred"], r["obj"]) for r in r0["triples"].collect()}
    # merge sort = entity 5, window = entity 6 (catalog ALIAS_DICT)
    assert (5, "same_sentence_as", 6) in t0
    assert r0["superseded"].count() == 0

    # snapshot 1: one re-crawl (dropped by the band index) + one new
    # page + same-as evidence merging entities 5 and 6
    p_scan = "the table scan joins the hash join here and there again now"
    r1 = run_incremental_kg(
        spark,
        pages([("https://mirror/1", p_sort), ("https://a/2", p_scan)]),
        aliases,
        store,
        1,
        new_sameas_edges=spark.createDataFrame([(5, 6)], "src long, dst long"),
    )
    dec = {r["doc_id"]: r["status"] for r in r1["decisions"].collect()}
    assert "dup_of_corpus" in dec.values() and "kept" in dec.values()
    sup = {(r["old_canonical_id"], r["canonical_id"]) for r in r1["superseded"].collect()}
    assert sup == {(6, 5)}
    t1 = {(r["subj"], r["pred"], r["obj"]) for r in r1["triples"].collect()}
    assert (3, "same_sentence_as", 4) in t1  # table scan + hash join
    assert not any(s == 5 and o == 6 for s, _p, o in t1)  # merged: no 5-6 pairs

    # read view: snapshot-0 triples follow the retirement without their
    # partition being rewritten — (5, *, 6) collapsed to self-loops and
    # dropped; no triple anywhere still references retired id 6
    view = {(r["subj"], r["pred"], r["obj"]) for r in read_kg_triples(spark, store).collect()}
    assert not any(6 in (s, o) for s, _p, o in view)
    assert (3, "same_sentence_as", 4) in view
    import os

    raw0 = spark.read.parquet(os.path.join(store, "triples", "snapshot=0"))
    assert raw0.filter("obj = 6").count() > 0  # history untouched

    # retry of snapshot 1 overwrites in place, view unchanged
    r1b = run_incremental_kg(
        spark,
        pages([("https://mirror/1", p_sort), ("https://a/2", p_scan)]),
        aliases,
        store,
        1,
        new_sameas_edges=spark.createDataFrame([(5, 6)], "src long, dst long"),
    )
    view2 = {
        (r["subj"], r["pred"], r["obj"]) for r in read_kg_triples(spark, store).collect()
    }
    assert view2 == view
    # the retry resumes every materialized stage; the injected mapping
    # is used in place, so it has a lineage record and nothing to resume
    by = {m["stage"]: m for m in r1b["lineage"]}
    assert all(m.get("resumed") for st, m in by.items() if st != "canonical"), by
    # the triples come back from the sink partition's own manifest
    with open(os.path.join(store, "triples", "snapshot=1", "_manifest.json")) as f:
        assert dict(json.load(f), resumed=True) == by["triples"]
    assert {(r["subj"], r["pred"], r["obj"]) for r in r1b["triples"].collect()} == t1


def test_incremental_alias_ingestion(spark, tmp_path):
    """Alias-increment -> same-as evidence without rescanning the prior
    dictionary: new norm issues edges within the batch; a known norm
    links its prior min to the batch; unchanged singleton rows emit
    nothing; the norm store merges min-per-norm across snapshots."""
    from neuroner_spark.plans.kg_pipeline import run_incremental_aliases

    store = str(tmp_path / "alias_store")

    def inc(rows):
        return spark.createDataFrame(rows, "alias_norm string, entity_id long")

    # snapshot 0: two norms; 'acme' shared by 10+12, 'beta' only 20
    r0 = run_incremental_aliases(spark, inc([("acme", 12), ("acme", 10), ("beta", 20)]), store, 0)
    e0 = {(r["src"], r["dst"]) for r in r0["edges"].collect()}
    assert e0 == {(10, 12)}
    assert r0["n_new_norms"] == 2
    n0 = {r["alias_norm"]: r["min_entity"] for r in r0["norms"].collect()}
    assert n0 == {"acme": 10, "beta": 20}

    # snapshot 1: 'acme' gains entity 7 (lower than prior min) and
    # 'beta' re-appears with ONLY its prior min -> no beta edge
    r1 = run_incremental_aliases(spark, inc([("acme", 7), ("beta", 20)]), store, 1)
    e1 = {(r["src"], r["dst"]) for r in r1["edges"].collect()}
    assert e1 == {(7, 10)}  # batch min 7 links the prior group via its min
    assert r1["n_new_norms"] == 0
    n1 = {r["alias_norm"]: r["min_entity"] for r in r1["norms"].collect()}
    assert n1 == {"acme": 7, "beta": 20}

    # snapshot 2: known norm, higher-id entity -> edge to prior min only
    r2 = run_incremental_aliases(spark, inc([("beta", 33)]), store, 2)
    e2 = {(r["src"], r["dst"]) for r in r2["edges"].collect()}
    assert e2 == {(20, 33)}
    n2 = {r["alias_norm"]: r["min_entity"] for r in r2["norms"].collect()}
    assert n2 == {"acme": 7, "beta": 20}  # acme carried forward untouched


def test_prune_canonical_store(spark, tmp_path):
    """Old complete mapping snapshots prune away; the latest mapping
    and the full superseded audit history survive, and the read view
    is unchanged."""
    import os

    from neuroner_spark.plans.kg_pipeline import (
        prune_canonical_store,
        run_incremental_canonical,
    )

    store = str(tmp_path / "canon")
    e = lambda rows: spark.createDataFrame(rows, "src long, dst long")
    run_incremental_canonical(spark, e([(10, 11), (20, 21)]), store, 0)
    run_incremental_canonical(spark, e([(11, 21)]), store, 1)
    run_incremental_canonical(spark, e([(30, 31)]), store, 2)
    # default keeps the latest TWO: a retry of the in-flight snapshot
    # still finds its prior (r6 review finding)
    assert prune_canonical_store(store) == 1
    assert sorted(os.listdir(os.path.join(store, "mapping"))) == [
        "snapshot=1", "snapshot=2",
    ]
    r2b = run_incremental_canonical(spark, e([(30, 31)]), store, 2)  # retry
    m = {r["entity_id"]: r["canonical_id"] for r in r2b["mapping"].collect()}
    assert m == {10: 10, 11: 10, 20: 10, 21: 10, 30: 30, 31: 30}
    # superseded audit history never pruned
    assert sorted(os.listdir(os.path.join(store, "superseded"))) == [
        "snapshot=0", "snapshot=1", "snapshot=2",
    ]
    # explicit keep_latest=1 (latest known committed) drops one more
    assert prune_canonical_store(store, keep_latest=1) == 1
    assert os.listdir(os.path.join(store, "mapping")) == ["snapshot=2"]
    r3 = run_incremental_canonical(spark, e([(40, 41)]), store, 3)
    m3 = {r["entity_id"]: r["canonical_id"] for r in r3["mapping"].collect()}
    assert m3 == {10: 10, 11: 10, 20: 10, 21: 10, 30: 30, 31: 30, 40: 40, 41: 40}


def test_verb_triples_match_python_model_random(spark):
    """Randomized (seeded) parity: verb_triples_from_mentions vs a
    brute-force Python model over random sentences with random
    non-overlapping mention spans — covers gap boundaries, multiple
    verbs, adjacent spans, and multi-sentence docs in one sweep."""
    import numpy as np

    from neuroner_spark.plans.kg_pipeline import (
        DEFAULT_VERB_LEXICON,
        VERB_MAX_GAP,
        verb_triples_from_mentions,
    )

    rng = np.random.default_rng(11)
    lex = set(DEFAULT_VERB_LEXICON)
    words = DEFAULT_VERB_LEXICON + ["the", "table", "row", "data", "fast", "x"]
    tok_rows, m_rows = [], []
    model = set()
    for doc in range(30):
        did = f"d{doc}"
        for sent in range(int(rng.integers(1, 3))):
            n_tok = int(rng.integers(6, 20))
            toks = [words[int(rng.integers(0, len(words)))] for _ in range(n_tok)]
            tok_rows += [(did, sent, i, t) for i, t in enumerate(toks)]
            # place up to 3 non-overlapping mention spans
            spans, cursor = [], 0
            for _ in range(int(rng.integers(0, 4))):
                start = cursor + int(rng.integers(0, 4))
                width = int(rng.integers(1, 3))
                if start + width > n_tok:
                    break
                ent = int(rng.integers(1, 6))
                spans.append((start, width, ent))
                cursor = start + width
            m_rows += [(did, sent, p, w, e) for p, w, e in spans]
            # model: ordered pairs, gap bound, first lexicon verb between
            for (pa, wa, ea) in spans:
                for (pb, wb, eb) in spans:
                    end_a = pa + wa
                    if pb >= end_a and pb - end_a <= VERB_MAX_GAP and ea != eb:
                        between = [
                            toks[v] for v in range(end_a, pb) if toks[v] in lex
                        ]
                        if between:
                            model.add((did, ea, between[0], eb))
    tokens = spark.createDataFrame(
        tok_rows, "doc_id string, sent_id int, pos int, token string"
    )
    m = spark.createDataFrame(
        m_rows, "doc_id string, sent_id int, pos int, n int, ent long"
    )
    got = {
        (r["doc_id"], r["subj"], r["pred"], r["obj"])
        for r in verb_triples_from_mentions(m, tokens, DEFAULT_VERB_LEXICON).collect()
    }
    assert got == model, (len(got), len(model), got ^ model)
