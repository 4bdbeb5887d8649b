"""End-to-end KG-construction pipeline with checkpointed resumability
and per-stage lineage (BASELINE.json north_rule; SURVEY.md §3 target
lifecycle and §7 M4/M5).

pages(url, warc_ts, html, text, lang)
  -> normalize (P2, length-preserving)
  -> tokenize (F1/W5, one Arrow stage)
  -> mentions (J8 broadcast n-gram gazetteer; or the neural tagger D1)
  -> link (J8 exact + J9 MinHash-LSH fuzzy + deterministic scorer)
  -> same-as edges + connected-components canonicalization (J10)
  -> triples(subj, pred, obj, url, warc_ts)  [+ entities, edges tables]

Every stage is DataFrame -> DataFrame; each materialized stage writes
Parquet + ``_manifest.json`` (stage, input fingerprint, row count,
wall seconds, partitions). A rerun with ``resume=True`` skips stages
whose manifest matches its input fingerprint — the K4 checkpoint
analog, and the north_rule's resume-from-checkpoint requirement. In
production the Parquet writes become Iceberg table commits; the API
boundary is this module so the swap is `.format("iceberg")` one-liners.

Triple predicates (deterministic, FIXTURES.md §4):
  same_sentence_as  both mentions in one sentence
  near              same sentence and |pos_a - pos_b| <= 5
  co_occurs_with    same document
subj < obj on canonical ids (symmetric predicates stored once).

Verb-mediated predicates (opt-in, ``verb_lexicon=``): OpenIE-lite
(subj, VERB, obj) where a lexicon verb token lies strictly between an
ordered mention pair in one sentence — DIRECTED (subject is the left
mention), pred = the verb nearest the subject, mention gap bounded by
``verb_max_gap``.  See ``verb_triples_from_mentions``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neuroner_spark.io import read_table, write_table
from neuroner_spark.functions.normalize import normalize_whitespace
from neuroner_spark.functions.tokenize import tokenize
from neuroner_spark.operators.components import connected_components
from neuroner_spark.operators.gazetteer import match_mentions
from neuroner_spark.operators.linking import link_mentions
from neuroner_spark.session import release

NEAR_WINDOW = 5
# co_occurs_with pairing is quadratic per doc; cap is far above any
# real page's distinct-entity count, so it only trips on pathological
# directory/spam pages (the skew killers at crawl scale)
MAX_ENTITIES_PER_DOC = 10_000

# Pinned relation-verb lexicon for the OpenIE-lite predicate family
# over the fixture/testdata vocabulary.  Deliberately DISJOINT from
# the alias dictionary's unigrams and bigram components ('scan',
# 'join', 'sort', 'merge', 'stream', ... are entity surfaces there) so
# a token is never both a mention and a predicate.  In production this
# is a real verb lexicon (or a POS gate) broadcast the same way.
DEFAULT_VERB_LEXICON = ["agg", "batch", "filter", "group", "order", "plan", "query"]
# bound on tokens between the two mentions: relations rarely span more
# (and the bound keeps the per-sentence pair fan-out linear-ish even
# on entity-dense directory pages)
VERB_MAX_GAP = 8


def _manifest_path(path: str) -> str:
    """A stage's manifest sits beside its data; Spark and pyarrow both
    skip ``_``-prefixed files, so the directory reads as plain Parquet."""
    return os.path.join(path, "_manifest.json")


def _snapshot_dirs(root: str, prefix: str) -> list[tuple[int, str]]:
    """Sorted (id, path) for ``{root}/{prefix}=<id>`` partitions — the
    one place the snapshot-store layout is parsed (shared by the
    dedup band store, the canonical store, and the alias-norm store)."""
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith(prefix + "="):
            out.append((int(d.split("=")[1]), os.path.join(root, d)))
    return sorted(out)


def _scan(df: DataFrame, content_hash: bool = False) -> dict:
    """One aggregation grouped by partition, one row per partition to
    the driver: the row-count histogram every manifest records
    (per-partition lineage, north_rule — the skew instrument) and, with
    ``content_hash``, the order-insensitive row hash fingerprints are
    made of."""
    aggs = [F.count("*").alias("n")]
    if content_hash:
        aggs.append(F.sum(F.xxhash64(*df.columns) % F.lit(1 << 40)).alias("h"))
    parts = df.groupBy(F.spark_partition_id()).agg(*aggs).collect()
    counts = [r["n"] for r in parts]
    out = {
        "n_rows": sum(counts),
        "n_partitions": len(counts),
        "partition_rows_min": min(counts, default=0),
        "partition_rows_max": max(counts, default=0),
    }
    if content_hash:
        out["hash"] = sum(r["h"] for r in parts) if parts else None
    return out


def _record(stage: str, fingerprint: str, stats: dict, t0: float, lineage: list[dict]) -> dict:
    manifest = {
        "stage": stage,
        "fingerprint": fingerprint,
        "wall_s": round(time.time() - t0, 3),
        **stats,
    }
    lineage.append(manifest)
    return manifest


def _write_stage(df: DataFrame, path: str, stage: str, fingerprint: str, lineage: list[dict]) -> DataFrame:
    t0 = time.time()
    write_table(df, path)
    out = read_table(df.sparkSession, path)
    manifest = _record(stage, fingerprint, _scan(out), t0, lineage)
    with open(_manifest_path(path), "w") as f:
        json.dump(manifest, f)
    return out


def _try_resume(spark: SparkSession, path: str, fingerprint: str, lineage: list[dict]) -> DataFrame | None:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        manifest = json.load(f)
    if manifest.get("fingerprint") != fingerprint:
        return None
    manifest["resumed"] = True
    lineage.append(manifest)
    return read_table(spark, path)


def _fingerprint(df: DataFrame, extra: str = "") -> str:
    """Cheap input fingerprint: row count + order-insensitive row hash.
    One scan; at 10^12 scale swap for the Iceberg snapshot id (same
    call site, O(1))."""
    scan = _scan(df, content_hash=True)
    return f"{scan['n_rows']}:{scan['hash']}:{extra}"


def normalize_pages(pages: DataFrame) -> DataFrame:
    return pages.select(
        F.col("url").alias("doc_id"),
        F.col("warc_ts"),
        normalize_whitespace(F.col("text")).alias("text"),
        F.col("lang"),
    )


def sameas_edges_from_aliases(alias_dict: DataFrame) -> DataFrame:
    """Entities sharing an alias_norm -> same-as edge set (J10 input).
    Pairs each entity with the min entity of its alias group — linear
    output, no quadratic pair blow-up inside hot alias groups."""
    grouped = alias_dict.groupBy("alias_norm").agg(
        F.min("entity_id").alias("root"), F.collect_set("entity_id").alias("ents")
    )
    return (
        grouped.select(F.col("root").alias("src"), F.explode("ents").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def sameas_evidence(alias_dict: DataFrame, extra: DataFrame | None = None) -> DataFrame:
    """One snapshot's same-as evidence for ``run_incremental_canonical``:
    alias-share edges (idempotent re-entry: already-merged components
    rewrite to self-loops) + IDENTITY self-edges for every dictionary
    entity + the caller's ``extra`` (src, dst) edges.  The self-edges
    matter: they ISSUE an id for every entity the pipeline can emit, so
    a later merge of two ids always finds both issued and records the
    retirement in `superseded` — an id used by an earlier triple
    partition but absent from the issued store would dodge the
    read-time re-key.  Dictionary-sized: the merge never sees the
    corpus."""
    edges = sameas_edges_from_aliases(alias_dict).unionByName(
        alias_dict.select(F.col("entity_id").cast("long").alias("src"))
        .distinct()
        .withColumn("dst", F.col("src"))
    )
    if extra is not None:
        edges = edges.unionByName(
            extra.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        )
    return edges


def canonical_map(alias_dict: DataFrame, small_threshold: int = 100_000) -> DataFrame:
    """entity_id -> canonical_id (= min entity id in the same-as
    component).

    The alias dictionary is the broadcast-SMALL side by contract, so
    the default path collects the (alias_norm, entity_id) rows in ONE
    job and does the whole thing driver-side — grouping, union-find,
    and the singleton fill — returning one broadcast createDataFrame.
    (The previous shape built the edge set as a Spark shuffle plus a
    separate distinct+join for singletons: ~0.9 s of scheduler latency
    for a 12-row dictionary at sf0.1.)  Dictionaries above
    ``small_threshold`` rows fall back to the distributed
    ``connected_components`` over the same-as edges (same min-id
    semantics, oracle-checked)."""
    spark = alias_dict.sparkSession
    # Arrow toPandas, not collect() (r7): the row-collect path on this
    # probe measured ~0.55 s against ~0.24 s for the Arrow transfer —
    # pure driver/serialization latency on a dictionary-sized frame
    # (guide: Arrow for driver transfers).
    rows = alias_dict.select("alias_norm", "entity_id").limit(small_threshold + 1).toPandas()
    if len(rows) <= small_threshold:
        groups: dict[str, set[int]] = {}
        for an, eid in zip(rows["alias_norm"], rows["entity_id"]):
            groups.setdefault(an, set()).add(int(eid))
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # same edge semantics as sameas_edges_from_aliases: each entity
        # of an alias group unions with the group minimum
        for ents in groups.values():
            if len(ents) < 2:
                continue
            root = min(ents)
            for e in ents:
                a, b = find(root), find(e)
                if a != b:
                    parent[max(a, b)] = min(a, b)
        comp_min: dict[int, int] = {}
        for node in list(parent):
            r = find(node)
            comp_min[r] = min(comp_min.get(r, node), node)
        all_ids = sorted({int(e) for e in rows["entity_id"]})
        mapping = [
            (eid, comp_min[find(eid)] if eid in parent else eid) for eid in all_ids
        ]
        # local_df (r7): the mapping is broadcast-joined by every
        # triples caller — a LocalRelation build keeps the broadcast
        # off the Python-RDD evaluation path (~0.3 s/build at local[32])
        from neuroner_spark.io import local_df

        comp = local_df(
            spark, mapping or [(None, None)], "entity_id long, canonical_id long"
        ).filter(F.col("entity_id").isNotNull())
        return F.broadcast(comp)  # bounded by small_threshold — safe to ship
    # pragma: no cover - exercised via connected_components oracle
    # NO broadcast hint here: the distributed fallback exists for
    # component maps too big for the driver/executor memory
    edges = sameas_edges_from_aliases(alias_dict)
    comp = connected_components(edges).select(
        F.col("node").alias("entity_id"), F.col("component").alias("canonical_id")
    )
    all_ents = alias_dict.select("entity_id").distinct()
    return all_ents.join(comp, "entity_id", "left").select(
        "entity_id", F.coalesce("canonical_id", F.col("entity_id")).alias("canonical_id")
    )


def co_occurrence_capped_docs(
    linked: DataFrame, canon: DataFrame, max_entities_per_doc: int = MAX_ENTITIES_PER_DOC
) -> DataFrame:
    """Docs whose distinct-canonical-entity count exceeds the
    ``co_occurs_with`` cap (see ``triples_from_linked``).
    Output: (doc_id, n_ents) — the pipeline materializes this as its
    own lineage stage so capped docs are auditable, never silent."""
    m = linked.join(F.broadcast(canon), "entity_id").select(
        "doc_id", F.col("canonical_id").alias("ent")
    )
    return (
        m.groupBy("doc_id")
        .agg(F.countDistinct("ent").alias("n_ents"))
        .filter(F.col("n_ents") > max_entities_per_doc)
    )


def canonical_entity_types(entity_types: DataFrame, canon: DataFrame) -> DataFrame:
    """(entity_id, entity_type) + (entity_id, canonical_id) ->
    (ent, etype): the canonical entity's type is the MODE of its member
    entities' types, ties broken by the lexicographically smallest type
    (deterministic — a canonical id merged from an ORG and a PRODUCT
    alias always resolves the same way).

    Plan: two keyed aggregations on canonical_id — the type table is
    dictionary-sized, nothing here touches the corpus."""
    member = (
        entity_types.select("entity_id", "entity_type")
        .distinct()
        .join(canon, "entity_id")
    )
    counts = member.groupBy("canonical_id", "entity_type").agg(
        F.count("*").alias("_n")
    )
    # argmax(count) with min-type tie-break == min_by over the struct
    # (-count, type): struct comparison is lexicographic
    return counts.groupBy("canonical_id").agg(
        F.min_by(
            "entity_type",
            F.struct((-F.col("_n")).alias("_neg"), F.col("entity_type").alias("_t")),
        ).alias("etype")
    ).select(F.col("canonical_id").alias("ent"), "etype")


def verb_triples_from_mentions(
    m: DataFrame,
    tokens: DataFrame,
    verb_lexicon: list[str],
    verb_max_gap: int = VERB_MAX_GAP,
    entity_types: DataFrame | None = None,
    type_constraints: list[tuple] | DataFrame | None = None,
) -> DataFrame:
    """OpenIE-lite verb-mediated triples from canonicalized mentions.

    ``m``: (doc_id, sent_id, pos, n, ent) — one row per linked mention,
    pos = first token index in the sentence, n = span width in tokens.
    Emits DIRECTED (doc_id, subj, pred, obj): subj is the LEFT mention,
    obj a mention starting at most ``verb_max_gap`` tokens after the
    subject span ends, pred = the lexicon verb token nearest the
    subject strictly between the two spans.  Distinct per doc.

    ``type_constraints`` (opt-in precision knob, r6): a whitelist of
    (pred, subj_type, obj_type) rows — the NER types the reference's
    tagger emits make this natural (PER-employed_by-ORG, not
    LOC-employed_by-DATE).  Requires ``entity_types``: a CANONICAL-id
    type map (ent, etype), e.g. ``canonical_entity_types(...)``.
    Semantics: pred = the nearest verb ALLOWED for the mention pair's
    (subj_type, obj_type) — an earlier non-allowed verb is skipped, so
    constraining changes pred selection, not just post-filters.
    Closed-world: mentions with no type row cannot satisfy a whitelist
    and drop from this family only (inner joins below).

    Plan shape at 10^12 pages:
      - the verb stream is the token scan FILTERED BY THE LEXICON
        before any join (an ``isin`` over a pinned list — selectivity
        ~|lexicon|/|vocab|, so only a sliver of the corpus's tokens
        ever reaches a shuffle);
      - both joins are equi-joins on (doc_id, sent_id) — the SAME key
        the sentence-pair predicates already shuffle on, so AQE/reuse
        co-locates them; the range conditions are post-join filters
        over sentence-bounded groups;
      - pair fan-out is bounded by ``verb_max_gap`` (an entity-dense
        page pairs each mention with O(gap) successors, not O(n));
      - first-verb selection is ``min_by`` inside one aggregation on
        the join key prefix — no window, no second shuffle.
    """
    a = m.select(
        "doc_id",
        "sent_id",
        F.col("pos").alias("pos_a"),
        (F.col("pos") + F.col("n")).alias("end_a"),
        F.col("ent").alias("subj"),
    )
    b = m.select(
        "doc_id", "sent_id", F.col("pos").alias("pos_b"), F.col("ent").alias("obj")
    )
    if type_constraints is not None:
        if entity_types is None:
            raise ValueError("type_constraints requires entity_types")
        # type the mention streams BEFORE pairing: the type map is
        # dictionary-sized (broadcast), and typing early means the
        # constraint filter below can prune pairs pre-aggregation
        a = a.join(
            F.broadcast(
                entity_types.select(
                    F.col("ent").alias("subj"), F.col("etype").alias("subj_type")
                )
            ),
            "subj",
        )
        b = b.join(
            F.broadcast(
                entity_types.select(
                    F.col("ent").alias("obj"), F.col("etype").alias("obj_type")
                )
            ),
            "obj",
        )
    pairs = a.join(b, ["doc_id", "sent_id"]).filter(
        (F.col("pos_b") >= F.col("end_a"))
        & (F.col("pos_b") - F.col("end_a") <= verb_max_gap)
        & (F.col("subj") != F.col("obj"))
    )
    verbs = tokens.filter(F.lower(F.col("token")).isin(verb_lexicon)).select(
        "doc_id",
        "sent_id",
        F.col("pos").alias("vpos"),
        F.lower(F.col("token")).alias("vtok"),
    )
    between = pairs.join(verbs, ["doc_id", "sent_id"]).filter(
        (F.col("vpos") >= F.col("end_a")) & (F.col("vpos") < F.col("pos_b"))
    )
    if type_constraints is not None:
        cons = type_constraints
        if not isinstance(cons, DataFrame):
            from neuroner_spark.io import local_df

            cons = local_df(
                m.sparkSession, list(cons), "vtok string, subj_type string, obj_type string"
            )
        else:
            # by NAME, not position — a caller's (subj_type, pred,
            # obj_type) column order must not silently remap the verb
            cons = cons.select(
                F.col("pred").alias("vtok"), "subj_type", "obj_type"
            )
        # whitelist rows are distinct by contract; the inner broadcast
        # join both filters AND implements nearest-ALLOWED-verb (the
        # min_by below only ever sees allowed candidates)
        between = between.join(
            F.broadcast(cons.distinct()), ["vtok", "subj_type", "obj_type"]
        )
    return (
        between.groupBy("doc_id", "sent_id", "pos_a", "pos_b", "subj", "obj")
        .agg(F.min_by("vtok", "vpos").alias("pred"))
        .select("doc_id", "subj", "pred", "obj")
        .distinct()
    )


def triples_from_linked(
    linked: DataFrame,
    canon: DataFrame,
    pages_meta: DataFrame,
    max_entities_per_doc: int = MAX_ENTITIES_PER_DOC,
    pinned: list | None = None,
    verb_lexicon: list[str] | None = None,
    tokens: DataFrame | None = None,
    verb_max_gap: int = VERB_MAX_GAP,
    entity_types: DataFrame | None = None,
    verb_type_constraints: list[tuple] | DataFrame | None = None,
) -> DataFrame:
    """linked mentions -> (subj, pred, obj, url, warc_ts) distinct.

    ``co_occurs_with`` is semantically quadratic per doc (all distinct
    entity pairs), so a directory-style page with 10^4 distinct
    entities would emit 5x10^7 pairs on ONE doc_id shuffle key. Docs
    above ``max_entities_per_doc`` are excluded from co-occurrence
    pairing (their same_sentence/near triples — bounded by sentence
    length — are kept); ``co_occurrence_capped_docs`` lists them.

    ``pinned``: the branched mention frame is localCheckpoint()ed and,
    when a list is given, appended to it so the caller can
    ``session.release`` it once the triples are written.

    ``verb_lexicon`` + ``tokens``: adds the DIRECTED verb-mediated
    predicate family (``verb_triples_from_mentions``) to the output —
    the verb branch reads the SAME materialized mention frame the
    positional branches do, plus one lexicon-filtered pass over the
    token stream.

    ``verb_type_constraints`` + ``entity_types``: the r6 typed-verb
    precision knob — ``entity_types`` is the RAW dictionary type map
    (entity_id, entity_type); it is canonicalized against ``canon``
    here (``canonical_entity_types``) before reaching the verb branch."""
    # span width (n) rides along only for the verb branch — callers
    # without it (and without verb_lexicon) may pass n-less mentions
    sel = ["doc_id", "sent_id", "pos"] + (["n"] if verb_lexicon is not None else [])
    m = linked.join(F.broadcast(canon), "entity_id").select(
        *sel, F.col("canonical_id").alias("ent")
    )
    # this frame is branched 4x below (sentence pairs a/b, doc sets
    # a/b); without materialization every branch re-executes the
    # whole upstream (tokenize -> match -> link — or the tagger) —
    # at 100 TB that is the single worst plan mistake available
    m = m.localCheckpoint()
    if pinned is not None:
        pinned.append(m)
    # ONE doc-keyed exchange over the materialized frame (r7):
    # localCheckpoint erases partitioning metadata (the physical plan
    # reads back UnknownPartitioning), so without this every branch
    # below re-exchanged independently — measured 9 Exchanges for this
    # stage at sf0.1.  hash(doc_id) satisfies the clustering of every
    # downstream key here ((doc_id, sent_id) pair joins, the
    # (doc_id, subj, obj) aggregation, the (doc_id, ent) distinct and
    # the doc_id co-occurrence joins — the joins additionally need
    # requireAllClusterKeysForCoPartition=false, set in session.py),
    # and identical branch copies of this exchange reuse one shuffle.
    # Skew contract unchanged: the co-occurrence branch already
    # shuffled on doc_id alone, per-doc work is page-bounded and
    # capped by max_entities_per_doc.
    m = m.repartition("doc_id")
    a = m.select("doc_id", "sent_id", F.col("pos").alias("pos_a"), F.col("ent").alias("subj"))
    b = m.select("doc_id", "sent_id", F.col("pos").alias("pos_b"), F.col("ent").alias("obj"))
    sent_pairs = a.join(b, ["doc_id", "sent_id"]).filter(F.col("subj") < F.col("obj"))
    # ONE aggregation over the pair set yields BOTH sentence-level
    # predicates: same_sentence_as = the group exists, near = any
    # occurrence within the window (min gap).  The pair set is the
    # biggest intermediate in the pipeline — two separate distinct()s
    # would shuffle it twice
    sent_preds = (
        sent_pairs.groupBy("doc_id", "subj", "obj")
        .agg(F.min(F.abs(F.col("pos_a") - F.col("pos_b"))).alias("_min_gap"))
        .select(
            "doc_id",
            "subj",
            "obj",
            F.explode(
                F.when(
                    F.col("_min_gap") <= NEAR_WINDOW,
                    F.array(F.lit("same_sentence_as"), F.lit("near")),
                ).otherwise(F.array(F.lit("same_sentence_as")))
            ).alias("pred"),
        )
    )
    # one distinct, renamed per side after the agg — the join inputs
    # and the ok_docs count below share the aggregation subtree
    # (Catalyst exchange reuse keys on the canonicalized plan).  The
    # not-null filter is the one the joins' subj < obj infers, so the
    # ok_docs copy matches theirs and reuses their doc-keyed shuffle
    # (canonical ids are never null)
    de = m.select("doc_id", "ent").filter(F.col("ent").isNotNull()).distinct()
    da = de.select("doc_id", F.col("ent").alias("subj"))
    db = de.select("doc_id", F.col("ent").alias("obj"))
    # skew guard: filtering ONE side of the self-join is enough to kill
    # the quadratic output (the other side's rows dangle and drop),
    # and ships only linear rows for capped docs through the shuffle
    ok_docs = (
        da.groupBy("doc_id")
        .agg(F.count("*").alias("n_ents"))
        .filter(F.col("n_ents") <= max_entities_per_doc)
        .select("doc_id")
    )
    co_doc = (
        da.join(ok_docs, "doc_id", "left_semi")
        .join(db, "doc_id")
        .filter(F.col("subj") < F.col("obj"))
        .select("doc_id", "subj", "obj")
        .withColumn("pred", F.lit("co_occurs_with"))
    )
    trip = sent_preds.unionByName(co_doc)
    if verb_lexicon is not None:
        if tokens is None:
            raise ValueError("verb_lexicon requires the tokens frame")
        ctypes = (
            canonical_entity_types(entity_types, canon)
            if verb_type_constraints is not None and entity_types is not None
            else None
        )
        trip = trip.unionByName(
            verb_triples_from_mentions(
                m,
                tokens,
                verb_lexicon,
                verb_max_gap,
                entity_types=ctypes,
                type_constraints=verb_type_constraints,
            )
        )
    meta = pages_meta.select(F.col("url").alias("doc_id"), "warc_ts")
    return trip.join(meta, "doc_id").select(
        "subj", "pred", "obj", F.col("doc_id").alias("url"), "warc_ts"
    )


def neural_mentions(
    spark: SparkSession, tokens: DataFrame, bundle: dict, validate: bool = False
) -> DataFrame:
    """D1 path: BiLSTM-CRF tag -> conlleval span extraction ->
    mention rows shaped like the gazetteer output (surface_norm for
    candidate gen).  ``validate`` turns on the P5 BIOES gate."""
    from neuroner_spark.functions.normalize import surface_norm as _sn
    from neuroner_spark.model.tagger import tag_tokens
    from neuroner_spark.operators.spans import extract_spans

    tagged = tag_tokens(spark, tokens, bundle, validate=validate)
    spans = extract_spans(tagged, label_col="label")
    return spans.select(
        "doc_id",
        "sent_id",
        # token-position anchor (r6 review fix): span_id is a per-
        # sentence ORDINAL — using it as pos made near/verb predicate
        # distances wrong on the neural path (gazetteer pos has always
        # been the token index)
        F.col("tok_pos").cast("int").alias("pos"),
        F.col("n_tokens").cast("int").alias("n"),
        F.col("surface"),
        _sn(F.col("surface")).alias("surface_norm"),
        "start",
        "end",
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    resume: bool = True,
    use_fuzzy: bool = False,
    mention_source: str = "gazetteer",
    bundle: dict | None = None,
    validate: bool = False,
    max_entities_per_doc: int = MAX_ENTITIES_PER_DOC,
    tokenizer: str = "regex",
    verb_lexicon: list[str] | None = None,
    verb_max_gap: int = VERB_MAX_GAP,
    canonical: DataFrame | None = None,
    entity_types: DataFrame | None = None,
    verb_type_constraints: list[tuple] | None = None,
    triples_dir: str | None = None,
) -> dict:
    """Run all stages with checkpoint/resume; returns
    {'triples': DataFrame, 'entities': DataFrame, 'lineage': [...]}.

    Each stage writes ``{out_dir}/<stage>`` with its ``_manifest.json``
    beside the data, except the ``triples`` stage, which writes
    ``triples_dir`` when given (a store's own sink partition) — so the
    triples are written once, where they are kept.

    mention_source: 'gazetteer' (J8 broadcast n-gram match) or
    'neural' (D1 BiLSTM-CRF tagger; requires ``bundle``).
    validate: P5 BIOES gate on the neural tagger's output (hard-fail
    on ill-formed label sequences, reference P4-style).
    verb_lexicon: opt-in OpenIE-lite verb-predicate family (see
    ``verb_triples_from_mentions``); changes the triples stage
    fingerprint, so toggling it invalidates the checkpoint.
    verb_type_constraints (+ entity_types, a raw (entity_id,
    entity_type) dictionary map): opt-in typed-verb whitelist — the
    constraint rows are fingerprinted into the triples stage, so
    editing the whitelist invalidates the checkpoint.
    canonical: injected (entity_id, canonical_id) mapping replacing the
    alias-dict-derived canonical_map — the incremental path threads the
    issued-id store through here.  It is used in place, never copied:
    its one content scan yields the fingerprint (folded into every
    canon-consuming stage) and the ``canonical`` lineage record.

    Resume keys on content fingerprints, never on directory names, so
    one ``out_dir`` can serve every snapshot of a store: a later run
    overwrites the stages whose fingerprint changed and resumes the
    rest.
    """
    os.makedirs(out_dir, exist_ok=True)
    lineage: list[dict] = []
    # content-sensitive: url alone would serve stale stages when a page
    # is re-crawled with new text under the same url
    fp_pages = _fingerprint(pages.select("url", "warc_ts", "text"), "pages")
    fp_alias = _fingerprint(alias_dict.select("alias_norm", "entity_id"), "alias")

    def stage(name: str, fp: str, build, path: str | None = None):
        path = path or os.path.join(out_dir, name)
        if resume:
            cached = _try_resume(spark, path, fp, lineage)
            if cached is not None:
                return cached
        return _write_stage(build(), path, name, fp, lineage)

    # reference `tokenizer` INI param: resolve the name to an injected
    # fn (None = pinned-regex fast path); a tokenizer switch invalidates
    # the token stage and everything downstream via the fingerprint
    from neuroner_spark.functions.tokenize import resolve_tokenizer

    tok_fn = resolve_tokenizer(tokenizer)
    norm = stage("normalized", fp_pages, lambda: normalize_pages(pages))
    fp_tok = fp_pages + f"|tok:{tokenizer}"
    tokens = stage("tokens", fp_tok, lambda: tokenize(norm, tokenize_fn=tok_fn))
    # the mentions fingerprint flows into every downstream stage so a
    # gazetteer<->neural switch (or a retrained bundle) invalidates
    # linked/triples too, not just mentions
    if mention_source == "neural":
        if bundle is None:
            raise ValueError("mention_source='neural' requires a weight bundle")
        import hashlib

        h = hashlib.md5()
        for name in sorted(bundle["arrays"]):
            h.update(name.encode())
            h.update(bundle["arrays"][name].tobytes())
        fp_mentions = fp_tok + f"|neural:{bundle['vocab_size']}:{h.hexdigest()[:12]}"
        mentions = stage(
            "mentions", fp_mentions, lambda: neural_mentions(spark, tokens, bundle, validate=validate)
        )
    else:
        fp_mentions = fp_tok + "|" + fp_alias + "|gaz"
        mentions = stage("mentions", fp_mentions, lambda: match_mentions(tokens, alias_dict))
    fp_linked = fp_mentions + "|" + fp_alias + f"|link:fuzzy={use_fuzzy}"
    linked = stage(
        "linked", fp_linked, lambda: link_mentions(mentions, alias_dict, use_fuzzy=use_fuzzy)
    )
    if canonical is not None:
        # injected mapping, used in place: a new issued mapping changes
        # the fingerprint (same form as _fingerprint) and so invalidates
        # everything downstream; the same scan gives the lineage record
        t0 = time.time()
        scan = _scan(canonical, content_hash=True)
        fp_canon = f"{scan['n_rows']}:{scan.pop('hash')}:injected"
        _record("canonical", fp_canon, scan, t0, lineage)
        canon = canonical
    else:
        fp_canon = fp_alias + "|cc"
        canon = stage("canonical", fp_canon, lambda: canonical_map(alias_dict))
    fp_verbs = (
        f":verbs={','.join(sorted(verb_lexicon))}:gap={verb_max_gap}"
        if verb_lexicon is not None
        else ""
    )
    if verb_type_constraints is not None:
        fp_verbs += ":tc=" + ",".join(
            "|".join(t) for t in sorted(map(tuple, verb_type_constraints))
        )
    pinned: list[DataFrame] = []
    triples = stage(
        "triples",
        fp_linked + "|" + fp_canon + f"|triples:w={NEAR_WINDOW}:cap={max_entities_per_doc}" + fp_verbs,
        lambda: triples_from_linked(
            linked,
            canon,
            norm.select(F.col("doc_id").alias("url"), "warc_ts"),
            max_entities_per_doc=max_entities_per_doc,
            pinned=pinned,
            verb_lexicon=verb_lexicon,
            tokens=tokens,
            verb_max_gap=verb_max_gap,
            entity_types=entity_types,
            verb_type_constraints=verb_type_constraints,
        ),
        path=triples_dir,
    )
    release(*pinned)  # the stage is written and read back from disk
    # skew-cap audit trail: docs excluded from co_occurs_with pairing,
    # materialized with their own manifest (n_rows == capped doc count)
    capped = stage(
        "co_occurs_capped",
        fp_linked + "|" + fp_canon + f"|capped:cap={max_entities_per_doc}",
        lambda: co_occurrence_capped_docs(linked, canon, max_entities_per_doc),
    )
    entities = stage(
        "entities",
        fp_alias + "|" + fp_canon + "|entities",
        lambda: alias_dict.join(canon, "entity_id")
        .groupBy("canonical_id")
        .agg(
            F.min("canonical_name").alias("canonical_name"),
            F.countDistinct("alias_norm").alias("n_aliases"),
        ),
    )
    with open(os.path.join(out_dir, "lineage.json"), "w") as f:
        json.dump(lineage, f, indent=1)
    return {
        "triples": triples,
        "entities": entities,
        "linked": linked,
        "co_occurs_capped": capped,
        "lineage": lineage,
    }


def run_incremental_canonical(
    spark: SparkSession,
    new_edges: DataFrame,
    store_dir: str,
    snapshot_id: int,
) -> dict:
    """Incremental entity-canonicalization store (r6): fold one crawl
    snapshot's same-as evidence into the issued id space via
    ``merge_canonical_snapshots`` and persist the result — the entity-
    table sibling of ``run_incremental_snapshot``'s band store.

    Layout (each write OVERWRITES its own snapshot partition, so a
    retried snapshot replaces itself — the same idempotence contract
    as the dedup store; in production these are Iceberg partitions):
      {store_dir}/mapping/snapshot=<k>/     (entity_id, canonical_id)
                                            COMPLETE issued mapping
      {store_dir}/superseded/snapshot=<k>/  (old_canonical_id,
                                            canonical_id) — this
                                            snapshot's retirements;
                                            the append-only audit
                                            record downstream triple
                                            tables re-key by

    Prior = the latest mapping partition with id < snapshot_id (each
    partition is complete, so the reader never unions history).  At
    10^9 entities the mapping is one keyed table; CC runs over the new
    edges only (see the operator's scale note).

    Returns {'mapping', 'superseded'}, both read back from the store.
    """
    from neuroner_spark.operators.components import merge_canonical_snapshots

    map_root = os.path.join(store_dir, "mapping")
    prior_snaps = [
        (sid, path) for sid, path in _snapshot_dirs(map_root, "snapshot") if sid < snapshot_id
    ]
    if prior_snaps:
        prior = spark.read.parquet(prior_snaps[-1][1])
    else:
        from neuroner_spark.io import local_df

        prior = local_df(spark, [], "entity_id long, canonical_id long")
    out = merge_canonical_snapshots(prior, new_edges)
    map_dir = os.path.join(map_root, f"snapshot={snapshot_id}")
    sup_dir = os.path.join(store_dir, "superseded", f"snapshot={snapshot_id}")
    out["mapping"].write.mode("overwrite").parquet(map_dir)
    out["superseded"].write.mode("overwrite").parquet(sup_dir)
    return {
        "mapping": spark.read.parquet(map_dir),
        "superseded": spark.read.parquet(sup_dir),
    }


def prune_canonical_store(store_dir: str, keep_latest: int = 2) -> int:
    """Maintenance for the canonical mapping store: every snapshot's
    mapping partition is COMPLETE, so older ones are fully covered by
    the latest — drop all but ``keep_latest`` of them.  The
    ``superseded`` partitions are NEVER touched (append-only audit
    record; ``read_kg_triples`` resolves through their full history).

    Default keeps the latest TWO: a retried in-flight snapshot k reads
    its prior from the latest partition with id < k, so pruning the
    predecessor of the newest snapshot would make that retry rebuild
    the issued-id space from empty (r6 review finding).  Pass
    keep_latest=1 only once the newest snapshot is known committed.
    Returns the number of directories removed."""
    import shutil

    snaps = _snapshot_dirs(os.path.join(store_dir, "mapping"), "snapshot")
    n = 0
    for _sid, path in snaps[: max(0, len(snaps) - keep_latest)]:
        shutil.rmtree(path)
        n += 1
    return n


# predicates stored order-normalized (subj < obj); verb predicates are
# directed and keep their orientation through a re-key
SYMMETRIC_PREDS = ["same_sentence_as", "near", "co_occurs_with"]


def rekey_triples(triples: DataFrame, superseded: DataFrame) -> DataFrame:
    """Re-key a materialized triple table through a snapshot's
    ``superseded`` frame (the downstream half of
    ``run_incremental_canonical``): retired canonical ids are rewritten
    to their successors IN PLACE of rebuilding the table from mentions.

    - the superseded frame is tiny by construction (ids retired by one
      snapshot's merges) -> broadcast joins, the triple store never
      shuffles;
    - symmetric predicates re-normalize to subj < obj (a rewrite can
      flip the order); verb predicates keep their direction;
    - pairs whose two sides merged into ONE entity collapse to
      self-loops and are dropped (a relation of an entity to itself is
      merge residue, not signal);
    - a final distinct folds triples that became identical.
    """
    t = triples
    for side in ("subj", "obj"):
        t = (
            t.join(
                F.broadcast(
                    superseded.select(
                        F.col("old_canonical_id").alias(side),
                        F.col("canonical_id").alias("_new"),
                    )
                ),
                side,
                "left",
            )
            .withColumn(side, F.coalesce("_new", F.col(side)))
            .drop("_new")
        )
    sym = F.col("pred").isin(SYMMETRIC_PREDS)
    t = (
        t.withColumn("_s", F.when(sym, F.least("subj", "obj")).otherwise(F.col("subj")))
        .withColumn("obj", F.when(sym, F.greatest("subj", "obj")).otherwise(F.col("obj")))
        .withColumn("subj", F.col("_s"))
        .drop("_s")
    )
    return t.filter(F.col("subj") != F.col("obj")).distinct()


def _resolved_superseded(spark: SparkSession, canon_store: str) -> DataFrame | None:
    """Union every snapshot's superseded partition and path-compress
    driver-side (the chain old -> mid -> new must resolve to old ->
    new for a single-join re-key).  The table is merge-retirement-
    sized — tiny by construction — so the collect is bounded."""
    parts = [
        p for _sid, p in _snapshot_dirs(os.path.join(canon_store, "superseded"), "snapshot")
    ]
    if not parts:
        return None
    rows = spark.read.parquet(*parts).collect()
    if not rows:
        return None
    nxt = {int(r["old_canonical_id"]): int(r["canonical_id"]) for r in rows}

    def final(x: int) -> int:
        seen = set()
        while x in nxt and x not in seen:
            seen.add(x)
            x = nxt[x]
        return x

    resolved = [(o, final(o)) for o in nxt]
    from neuroner_spark.io import local_df

    return local_df(spark, resolved, "old_canonical_id long, canonical_id long")


def read_kg_triples(spark: SparkSession, store_dir: str) -> DataFrame:
    """Consistent view over the append-only triple store: the union of
    every snapshot partition, re-keyed through the CUMULATIVE resolved
    superseded table at read time.  Writes stay append-only (each
    snapshot's partition is never rewritten — the audit record), yet
    every read sees current canonical ids; materialize the view
    periodically if read amplification matters."""
    root = os.path.join(store_dir, "triples")
    parts = [p for _sid, p in _snapshot_dirs(root, "snapshot")]
    if not parts:
        raise FileNotFoundError(
            f"no triple snapshots under {root} — run run_incremental_kg first"
        )
    triples = spark.read.parquet(*parts)
    resolved = _resolved_superseded(spark, os.path.join(store_dir, "canonical"))
    if resolved is None:
        return triples
    return rekey_triples(triples, resolved)


def near_dup_decisions(
    spark: SparkSession, pages: DataFrame, dedup_dir: str, snapshot_id: int
) -> DataFrame:
    """Near-dup gate of one snapshot's pages against the accumulated
    band index (``run_incremental_snapshot`` under ``dedup_dir``).  Page
    key = xxhash64(url), so re-crawled/mirrored pages drop without
    rescanning old text.  Returns the disk-backed decisions (doc_id,
    status, dup_of); every status but ``kept`` is a near-duplicate."""
    from neuroner_spark.plans.corpus_pipeline import run_incremental_snapshot

    docs = pages.select(F.xxhash64("url").alias("doc_id"), F.col("text"))
    return run_incremental_snapshot(
        spark, docs, dedup_dir, snapshot_id, fast_hash=True
    )["decisions"]


def run_incremental_kg(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    store_dir: str,
    snapshot_id: int,
    new_sameas_edges: DataFrame | None = None,
    dedup: bool = True,
    verb_lexicon: list[str] | None = None,
    **pipeline_kw,
) -> dict:
    """One crawl snapshot through the full incremental KG lifecycle —
    the north_rule composition of the three snapshot stores:

      1. near-dup gate vs the accumulated band index
         (``near_dup_decisions`` under {store}/dedup)
      2. same-as evidence -> issued-id merge
         (``run_incremental_canonical`` under {store}/canonical over
         ``sameas_evidence``; callers add cross-snapshot discoveries
         via ``new_sameas_edges``)
      3. KG pipeline over the KEPT pages with the issued mapping
         injected, in place, as the canonicalization (``run_pipeline``
         under the store's one run directory {store}/run; snapshot k
         never reads snapshot k-1's stages, and resume keys on content
         fingerprints, so each snapshot overwrites the stages whose
         fingerprint changed and a retry of the in-flight or
         just-committed snapshot resumes)
      4. its ``triples`` stage writes the store partition
         {store}/triples/snapshot=<k> directly, ``_manifest.json``
         beside the data (overwrite own partition — retry-idempotent,
         never rewrites history); nothing is appended afterwards

    The returned ``triples``, ``mapping`` and ``superseded`` read the
    store's own snapshot partitions; ``entities`` reads {store}/run,
    which the store's next snapshot may overwrite.

    ``step_walls['triple_append']`` is kept for the benchmark's layer
    table.  It times what follows ``run_pipeline``, which is nothing,
    so it is 0: the sink write's time is now part of the ``triples``
    stage's ``wall_s``.

    Read side: ``read_kg_triples`` re-keys the whole store through the
    cumulative superseded chain, so earlier snapshots' triples follow
    id retirements without their partitions being touched.
    """
    step_walls: dict[str, float] = {}
    _t0 = time.time()
    kept_pages = pages
    decisions = None
    if dedup:
        decisions = near_dup_decisions(
            spark, pages, os.path.join(store_dir, "dedup"), snapshot_id
        )
        kept_ids = decisions.filter(F.col("status") == "kept").select("doc_id")
        kept_pages = pages.join(
            kept_ids.withColumnRenamed("doc_id", "_k"),
            F.xxhash64("url") == F.col("_k"),
            "left_semi",
        )
    step_walls["dedup_gate"] = round(time.time() - _t0, 3)
    edges = sameas_evidence(alias_dict, new_sameas_edges)
    canon_store = os.path.join(store_dir, "canonical")
    _t0 = time.time()
    canon_res = run_incremental_canonical(spark, edges, canon_store, snapshot_id)
    step_walls["canonical_merge"] = round(time.time() - _t0, 3)
    _t0 = time.time()
    run = run_pipeline(
        spark,
        kept_pages,
        alias_dict,
        os.path.join(store_dir, "run"),
        canonical=canon_res["mapping"],
        verb_lexicon=verb_lexicon,
        triples_dir=os.path.join(store_dir, "triples", f"snapshot={snapshot_id}"),
        **pipeline_kw,
    )
    step_walls["pipeline"] = round(time.time() - _t0, 3)
    step_walls["triple_append"] = 0.0
    return {
        "triples": run["triples"],
        "decisions": decisions,
        "mapping": canon_res["mapping"],
        "superseded": canon_res["superseded"],
        "entities": run["entities"],
        "lineage": run["lineage"],
        # driver-side walls for the four snapshot phases — the
        # two-size scaling artifact names the serial floor with these
        "step_walls": step_walls,
    }


def run_incremental_aliases(
    spark: SparkSession,
    alias_increment: DataFrame,
    store_dir: str,
    snapshot_id: int,
) -> dict:
    """Incremental alias-dictionary ingestion: turn an alias-row
    INCREMENT into same-as evidence without rescanning the prior
    dictionary — the evidence-extraction front end of
    ``run_incremental_kg(new_sameas_edges=...)``.

    Store: {store_dir}/alias_norms/snapshot=<k>/ (alias_norm,
    min_entity) — COMPLETE per snapshot (norm-count-sized, the keyed
    table a crawl accumulates), overwrite-own-partition
    retry-idempotent like every snapshot sink here.

    Evidence rule (linear, the ``sameas_edges_from_aliases``
    discipline — no quadratic blow-up inside hot alias groups): for
    each norm in the increment, rep = least(prior min_entity, batch
    min entity); every increment entity and the prior min connect to
    rep.  Norms whose min is unchanged and whose entities all equal
    rep emit nothing.

    Plan shape: one groupBy over the increment (batch min per norm),
    one equi-join against the prior norm table (keyed store — with it
    bucketed by alias_norm the join never shuffles the store), one
    union for the merged table.  The prior dictionary's ROWS are never
    read.

    Returns {'edges', 'norms', 'n_new_norms'}.
    """
    root = os.path.join(store_dir, "alias_norms")
    prior_snaps = [
        (sid, path) for sid, path in _snapshot_dirs(root, "snapshot") if sid < snapshot_id
    ]
    if prior_snaps:
        prior = spark.read.parquet(prior_snaps[-1][1])
    else:
        from neuroner_spark.io import local_df

        prior = local_df(spark, [], "alias_norm string, min_entity long")
    batch = (
        alias_increment.select("alias_norm", F.col("entity_id").cast("long"))
        .groupBy("alias_norm")
        .agg(
            F.min("entity_id").alias("batch_min"),
            F.collect_set("entity_id").alias("ents"),
        )
    )
    joined = batch.join(
        prior.withColumnRenamed("min_entity", "prior_min"), "alias_norm", "left"
    ).withColumn("rep", F.least(F.coalesce("prior_min", "batch_min"), "batch_min"))
    edges = (
        joined.select(
            "rep",
            F.explode(
                F.when(
                    F.col("prior_min").isNotNull(),
                    F.array_union(F.col("ents"), F.array(F.col("prior_min"))),
                ).otherwise(F.col("ents"))
            ).alias("dst"),
        )
        .filter(F.col("rep") != F.col("dst"))
        .select(F.col("rep").alias("src"), "dst")
        .distinct()
    )
    merged = (
        prior.unionByName(
            joined.select("alias_norm", F.col("rep").alias("min_entity"))
        )
        .groupBy("alias_norm")
        .agg(F.min("min_entity").alias("min_entity"))
    )
    out_dir = os.path.join(root, f"snapshot={snapshot_id}")
    merged.write.mode("overwrite").parquet(out_dir)
    norms = spark.read.parquet(out_dir)
    n_new = norms.count() - (prior.count() if prior_snaps else 0)
    return {"edges": edges, "norms": norms, "n_new_norms": n_new}
