"""Source scans (CoNLL/BRAT/embeddings), streaming ingestion, and
multimodal plumbing — reference test strategy: format round-trips
(src/unit_tests.py analog)."""

import os

import pytest
from pyspark.sql import functions as F

from neuroner_spark.fixtures.gen import pages_df


def test_conll_roundtrip(spark, tmp_path):
    """write_conll ∘ read_conll preserves tokens/labels/sentences."""
    from neuroner_spark.sources.conll import read_conll, write_conll

    src = str(tmp_path / "conll_in")
    os.makedirs(src)
    with open(os.path.join(src, "doc1.txt"), "w") as f:
        f.write("John B-PER\nSmith I-PER\nworks O\n\nActs O\nhere O\n")
    toks = read_conll(spark, src)
    rows = toks.orderBy("sent_id", "pos").collect()
    assert [(r["sent_id"], r["pos"], r["token"], r["label"]) for r in rows] == [
        (0, 0, "John", "B-PER"),
        (0, 1, "Smith", "I-PER"),
        (0, 2, "works", "O"),
        (1, 0, "Acts", "O"),
        (1, 1, "here", "O"),
    ]
    out = str(tmp_path / "conll_out")
    write_conll(toks, out)
    back = read_conll(spark, out)
    a = sorted((r["sent_id"], r["pos"], r["token"], r["label"]) for r in back.collect())
    b = sorted((r["sent_id"], r["pos"], r["token"], r["label"]) for r in rows)
    assert a == b


def test_tbevents_format_and_roundtrip(tmp_path):
    """K5 writer: CRC32C matches the public test vectors, records
    round-trip through the CRC-verified reader, and corruption is
    detected — i.e. the file is genuinely TFRecord/event-proto shaped,
    not a bespoke format."""
    from neuroner_spark.sources.tbevents import crc32c, read_tb_events, write_tb_events

    # public CRC32C vectors (RFC 3720 B.4)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"") == 0
    p = write_tb_events(
        str(tmp_path / "tb"),
        [(0, "train/loss", 1.5), (3, "valid/f1", 0.875)],
        wall_time=42.0,
    )
    events = read_tb_events(p)
    assert events[0]["file_version"] == "brain.Event:2"
    assert events[0]["wall_time"] == 42.0
    assert events[1]["step"] == 0 and events[1]["scalars"] == {"train/loss": 1.5}
    assert events[2]["step"] == 3 and events[2]["scalars"] == {"valid/f1": 0.875}
    # flip one payload byte -> CRC verification must refuse
    blob = bytearray(open(p, "rb").read())
    blob[20] ^= 0xFF
    bad = tmp_path / "tb" / "corrupt"
    bad.write_bytes(bytes(blob))
    with pytest.raises(ValueError):
        read_tb_events(str(bad))


def test_conll_file_size_guard(spark, tmp_path):
    """wholetext = one task + one JVM string per file, so oversized
    files must fail loudly with a pointer to the parquet path."""
    from py4j.protocol import Py4JJavaError

    from neuroner_spark.sources.conll import read_conll

    src = str(tmp_path / "conll_big")
    os.makedirs(src)
    with open(os.path.join(src, "big.txt"), "w") as f:
        f.write("tok O\n" * 200)
    with pytest.raises(Exception) as exc:
        read_conll(spark, src, max_file_bytes=100).collect()
    assert "parquet token table" in str(exc.value)
    # under the bound the same file reads fine
    assert read_conll(spark, src, max_file_bytes=1 << 20).count() == 200


def test_brat_read_and_invariant(spark, tmp_path):
    from neuroner_spark.sources.brat import (
        annotation_violations,
        read_brat_ann,
        read_brat_text,
    )

    d = str(tmp_path / "brat")
    os.makedirs(d)
    text = "Alice met Bob in Paris."
    with open(os.path.join(d, "doc1.txt"), "w") as f:
        f.write(text)
    with open(os.path.join(d, "doc1.ann"), "w") as f:
        f.write("T1\tPER 0 5\tAlice\nT2\tPER 10 13\tBob\nT3\tLOC 17 22\tParis\n")
    texts = read_brat_text(spark, os.path.join(d, "*.txt"))
    anns = read_brat_ann(spark, os.path.join(d, "*.ann"))
    assert anns.count() == 3
    assert annotation_violations(texts, anns).count() == 0
    # corrupt one offset -> violation detected (reference hard-fails here)
    bad = anns.withColumn(
        "start", F.when(F.col("ann_id") == "T2", F.lit(9)).otherwise(F.col("start"))
    )
    assert annotation_violations(texts, bad).count() == 1


def test_embedding_scan_and_probe_chain(spark, tmp_path):
    from neuroner_spark.sources.embeddings import (
        pretrained_membership,
        read_embedding_text,
        vocab_embedding_matrix,
    )

    p = str(tmp_path / "glove.txt")
    with open(p, "w") as f:
        f.write("hello " + " ".join(["0.1"] * 4) + "\n")
        f.write("world " + " ".join(["0.2"] * 4) + "\n")
        f.write("year0 " + " ".join(["0.3"] * 4) + "\n")
    emb = read_embedding_text(spark, p, dim=4)
    assert emb.count() == 3
    vocab_df = spark.createDataFrame(
        [("hello",), ("WORLD",), ("year9",), ("zzz",)], "token string"
    )
    probes = {r["token"]: r["probe"] for r in pretrained_membership(vocab_df, emb).collect()}
    assert probes == {"hello": "exact", "WORLD": "lower", "year9": "digits0", "zzz": "oov"}
    stats = {}
    mat = vocab_embedding_matrix({"hello": 1, "WORLD": 2, "year9": 3, "zzz": 4}, emb, stats=stats)
    # join-first shape: the driver-side collect is bounded by the probe
    # variants of the vocab, never the size of the embedding table
    assert stats["n_collected"] <= 3 * 4
    assert mat.shape == (5, 4)
    assert mat[1, 0] == pytest.approx(0.1, abs=1e-6)
    assert mat[2, 0] == pytest.approx(0.2, abs=1e-6)  # lower probe
    assert mat[3, 0] == pytest.approx(0.3, abs=1e-6)  # digits->0 probe
    assert (mat[4] == 0).all()  # oov stays zero


def test_streaming_pipeline(spark, tmp_path):
    from neuroner_spark.plans.flagship import builtin_alias_dict
    from neuroner_spark.streaming.ingest import host_rate_windows, run_streaming_pipeline

    landing = str(tmp_path / "landing")
    pages = pages_df(spark, 80)
    pages.write.parquet(landing)
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    from neuroner_spark.fixtures.gen import alias_df

    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark))
    triples = spark.read.parquet(out)
    assert triples.count() > 0
    # batch_id is the per-micro-batch partition column (retry idempotence)
    assert set(triples.columns) == {"subj", "pred", "obj", "url", "warc_ts", "batch_id"}
    # second drain with same checkpoint: no new input -> no duplicate rows
    n1 = triples.count()
    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark))
    assert spark.read.parquet(out).count() == n1
    # windowed host-rate agg compiles and runs in batch mode too
    rates = host_rate_windows(spark.read.parquet(landing))
    assert rates.count() > 0


def test_streaming_intake_gates_route_rejects(spark, tmp_path):
    """Quality + decontamination gates INSIDE foreachBatch: flagged
    pages are routed to the rejects table (with reasons), clean pages
    still produce triples, and the exactly-once re-drain property
    holds for both outputs."""
    import datetime

    from neuroner_spark.fixtures.gen import alias_df, pages_df
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    ts = datetime.datetime(2024, 1, 1)
    bench_text = (
        "what is the capital of france the capital of france is paris of course"
    )
    base = pages_df(spark, 30)
    extra = spark.createDataFrame(
        [
            ("http://bad.example/low", ts, b"", "tiny", "en"),
            (
                "http://bad.example/leak",
                ts,
                b"",
                "students please recall that " + bench_text + " for the exam",
                "en",
            ),
        ],
        base.schema,
    )
    landing = str(tmp_path / "landing")
    base.unionByName(extra).write.parquet(landing)
    out, ckpt, rejects = (
        str(tmp_path / "triples"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "rejects"),
    )
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")
    pinned_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    kwargs = dict(
        min_quality=0.4,
        benchmark=bench,
        rejects_dir=rejects,
        contamination_n=8,
    )
    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark), **kwargs)
    rej = spark.read.parquet(rejects)
    by_url = {r["url"]: r["reject_reason"] for r in rej.collect()}
    assert by_url["http://bad.example/low"] == "low_quality"
    assert by_url["http://bad.example/leak"] == "contaminated"
    triples = spark.read.parquet(out)
    n1 = triples.count()
    assert n1 > 0
    # no rejected url ever reaches the triples table
    assert triples.filter(F.col("url").startswith("http://bad.example/")).count() == 0
    # exactly-once: a second drain from the same checkpoint adds nothing
    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark), **kwargs)
    assert spark.read.parquet(out).count() == n1
    assert spark.read.parquet(rejects).count() == rej.count()
    # the per-batch pinned gate frame is actually RELEASED (r5 ADVICE:
    # the old localCheckpoint + df.rdd.unpersist pairing leaked the
    # pinned JVM blocks — DataFrame.rdd builds a fresh RDD); under a
    # continuous trigger a leak here accumulates without bound.
    # unpersist(blocking=False) is ASYNC, and the shared session's
    # ContextCleaner may concurrently release localCheckpoint blocks
    # LEFT BY EARLIER TESTS (observed: count dropped BELOW the captured
    # baseline mid-test) — so poll, and assert no NEW pinned RDDs
    # remain rather than exact equality with a moving baseline
    import time as _time

    for _ in range(50):
        if spark.sparkContext._jsc.getPersistentRDDs().size() <= pinned_before:
            break
        _time.sleep(0.1)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= pinned_before


def test_multimodal_plumbing(spark):
    from neuroner_spark.functions.multimodal import html_to_text, media_features

    pages = pages_df(spark, 30)
    with_text = html_to_text(pages)
    rows = with_text.select("text", "text_from_html").collect()
    # html wraps the exact text -> extraction recovers it (whitespace-normalized)
    import re

    for r in rows:
        want = re.sub(r"\s+", " ", r["text"]).strip()
        assert r["text_from_html"] == want
    feats = media_features(pages, "url", "html", "image", deterministic_fake=True, n_partitions=4)
    out = feats.collect()
    assert len(out) == 30
    assert all(len(r["feature"]) == 32 for r in out)
    # deterministic across runs
    out2 = media_features(pages, "url", "html", "image", deterministic_fake=True).collect()
    assert {r["id"]: r["feature"] for r in out} == {r["id"]: r["feature"] for r in out2}
    # stub path: real decoder absent -> NotImplementedError surfaces
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        media_features(pages.limit(1), "url", "html", "audio", deterministic_fake=False).collect()


def test_split_routing_partition_pruning(spark, tmp_path):
    """P6: split routing as a partition-column filter — the plan must
    prune to one partition directory (reference: skip absent splits)."""
    from neuroner_spark.fixtures.gen import pages_df

    d = str(tmp_path / "splits")
    pages = pages_df(spark, 60)
    tagged = pages.withColumn(
        "split",
        F.when(F.col("url").endswith("0"), "test").otherwise("train"),
    )
    tagged.write.partitionBy("split").parquet(d)
    test_only = spark.read.parquet(d).filter(F.col("split") == "test")
    plan = test_only._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan and "split" in plan
    assert test_only.count() > 0
    # pruned scan reads strictly fewer files than the full scan
    full = spark.read.parquet(d)
    assert test_only.count() < full.count()


def test_brat_writer_roundtrip(spark, tmp_path):
    from neuroner_spark.sources.brat import read_brat_ann, write_brat_ann

    spans = spark.createDataFrame(
        [("docA", 1, "PER", 0, 5, "Alice"), ("docA", 2, "LOC", 10, 15, "Paris")],
        "doc_id string, span_id long, type string, start long, end long, surface string",
    )
    out = str(tmp_path / "ann")
    write_brat_ann(spans, out)
    back = read_brat_ann(spark, out + "/doc_id=docA/*")
    rows = {r["ann_id"]: (r["type"], r["start"], r["end"], r["surface"]) for r in back.collect()}
    assert rows == {"T1": ("PER", 0, 5, "Alice"), "T2": ("LOC", 10, 15, "Paris")}


def test_stateful_stream_dedup(spark, tmp_path):
    """applyInPandasWithState: re-crawled urls are dropped across
    micro-batches; state survives via the checkpoint within the run."""
    from neuroner_spark.streaming.ingest import PAGES_SCHEMA
    from neuroner_spark.streaming.stateful import dedup_pages_stream

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    pages = pages_df(spark, 40)
    # file 1: originals; file 2: exact re-crawls (same urls, later ts)
    pages.write.parquet(landing + "/batch1")
    recrawl = pages.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")
    )
    recrawl.write.parquet(landing + "/batch2")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces >= 2 micro-batches
        .parquet(landing + "/batch*")
    )
    out = str(tmp_path / "deduped")
    q = (
        dedup_pages_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 40  # one row per distinct url, not 80
    assert got.select("url").distinct().count() == 40
    # earliest crawl won: timestamps match the originals
    orig = {r["url"]: r["warc_ts"] for r in pages.collect()}
    for r in got.collect():
        assert r["warc_ts"] == orig[r["url"]]


def test_brat_to_conll_alignment(spark, tmp_path):
    """J5: BRAT char spans -> BIO token labels (the reference's
    brat_to_conll path), then round-trip back to spans via W4."""
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.operators.align import label_tokens_from_annotations
    from neuroner_spark.operators.spans import extract_spans

    text = "Alice Smith met Bob in Paris. Bob left."
    docs = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    anns = spark.createDataFrame(
        [
            ("d1", "T1", "PER", 0, 11),   # Alice Smith
            ("d1", "T2", "PER", 16, 19),  # Bob
            ("d1", "T3", "LOC", 23, 28),  # Paris
            ("d1", "T4", "PER", 30, 33),  # Bob (sentence 2)
        ],
        "doc_id string, ann_id string, type string, start long, end long",
    )
    tokens = tokenize(docs)
    labeled = label_tokens_from_annotations(tokens, anns)
    got = {
        (r["sent_id"], r["pos"]): (r["token"], r["label"])
        for r in labeled.collect()
    }
    assert got[(0, 0)] == ("Alice", "B-PER")
    assert got[(0, 1)] == ("Smith", "I-PER")
    assert got[(0, 2)] == ("met", "O")
    assert got[(0, 3)] == ("Bob", "B-PER")
    assert got[(0, 5)] == ("Paris", "B-LOC")
    assert got[(1, 0)] == ("Bob", "B-PER")
    # round-trip: span extraction recovers the original char spans
    spans = extract_spans(labeled, label_col="label")
    round_tripped = {(r["start"], r["end"], r["type"]) for r in spans.collect()}
    assert round_tripped == {(0, 11, "PER"), (16, 19, "PER"), (23, 28, "LOC"), (30, 33, "PER")}


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Late-data handling: with a watermark on warc_ts, rows arriving
    in a later micro-batch with timestamps older than (max_ts -
    watermark) are excluded from the windowed aggregate state."""
    import datetime as dt

    from neuroner_spark.streaming.ingest import host_rate_windows, read_pages_stream

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "agg_out")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def page(url, ts):
        return (url, ts, None, "text", "en")

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    # batch 1: fresh rows advance the watermark to ~12:00 - 2h
    spark.createDataFrame(
        [page(f"https://a.example/{i}", base) for i in range(5)], schema
    ).coalesce(1).write.mode("append").parquet(landing)

    def drain():
        q = (
            host_rate_windows(read_pages_stream(spark, landing), "1 hour", "2 hours")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # batch 2: one fresh row far ahead (advances watermark past the old
    # window) and one very late row (8h old -> behind the watermark)
    spark.createDataFrame(
        [
            page("https://a.example/new", base + dt.timedelta(hours=6)),
            page("https://late.example/x", base - dt.timedelta(hours=8)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    # batch 3: another fresh row closes remaining windows
    spark.createDataFrame(
        [page("https://a.example/newer", base + dt.timedelta(hours=12))], schema
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    rows = spark.read.parquet(outdir).collect()
    hosts = {r["host"] for r in rows}
    # the late host's window was behind the watermark when it arrived
    assert "late.example" not in hosts, rows
    assert "a.example" in hosts


def test_write_conll_distributed_mode(spark, tmp_path):
    """single_file=False: no global sort / coalesce(1); content per doc
    is byte-identical to the golden mode (tokens+labels round-trip)."""
    from neuroner_spark.sources.conll import read_conll, write_conll

    src = str(tmp_path / "conll_src")
    os.makedirs(src)
    for d in range(4):
        with open(os.path.join(src, f"doc{d}.txt"), "w") as f:
            f.write(f"tok{d}a B-PER\ntok{d}b O\n\nnext{d} O\n")
    toks = read_conll(spark, src)
    out = str(tmp_path / "conll_dist")
    write_conll(toks, out, single_file=False)
    back = read_conll(spark, out)
    a = sorted((r["token"], r["label"]) for r in back.collect())
    b = sorted((r["token"], r["label"]) for r in toks.collect())
    assert a == b


def test_streaming_pipeline_neural_source(spark, tmp_path):
    """foreachBatch with the BiLSTM-CRF mention source: micro-batches
    run the neural tagger and write per-batch triple partitions."""
    from neuroner_spark.fixtures.gen import alias_df
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.weights import make_bundle
    from neuroner_spark.plans.kg_pipeline import normalize_pages
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    landing = str(tmp_path / "landing")
    pages = pages_df(spark, 40)
    pages.write.parquet(landing)
    bundle = make_bundle(512, seed=42)  # hashed vocab: no corpus collect
    out = str(tmp_path / "triples_neural")
    run_streaming_pipeline(
        spark, landing, out, str(tmp_path / "ckpt"), alias_df(spark),
        mention_source="neural", bundle=bundle,
    )
    triples = spark.read.parquet(out)
    # random seed-42 weights may or may not produce linkable mentions;
    # the contract is schema + a successful drain, re-drain is a no-op
    assert set(triples.columns) == {"subj", "pred", "obj", "url", "warc_ts", "batch_id"}


def test_streaming_incremental_dedup_gate(spark, tmp_path):
    """r6 dedup_store_dir gate: a page near-duplicating an ALREADY
    ingested page (previous drain) or a same-batch page is routed to
    rejects as near_duplicate; unique pages keep producing triples;
    the store append + decisions survive the exactly-once re-drain."""
    import datetime

    from neuroner_spark.fixtures.gen import alias_df, pages_df
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    ts = datetime.datetime(2024, 1, 2)
    base = pages_df(spark, 20)
    landing = str(tmp_path / "landing")
    base.write.parquet(landing)
    out, ckpt, rejects, store = (
        str(tmp_path / "triples"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "rejects"),
        str(tmp_path / "store"),
    )
    kwargs = dict(rejects_dir=rejects, dedup_store_dir=store)
    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark), **kwargs)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # fixture pages may near-dup EACH OTHER (filler-vocab generator) —
    # those batch dups are correct rejects; note them so drain-2
    # assertions only look at the planted urls
    import os

    drain1_rejects = (
        {r["url"] for r in spark.read.parquet(rejects).collect()}
        if os.path.isdir(rejects)
        else set()
    )

    # second crawl lands: a near-replica of an INGESTED page (suffix
    # token), a fresh page, and a same-batch duplicate of that fresh page
    victim = (
        base.filter(~F.col("url").isin(list(drain1_rejects)))
        .orderBy("url")
        .limit(1)
        .collect()[0]
    )
    fresh_text = (
        "completely new reportage about harbor logistics and container "
        "cranes moving through the terminal at dawn with steady wind"
    )
    second = spark.createDataFrame(
        [
            ("http://dup.example/replica", ts, b"", victim["text"] + " zzz", "en"),
            ("http://fresh.example/a", ts, b"", fresh_text, "en"),
            ("http://fresh.example/b", ts, b"", fresh_text + " tail", "en"),
        ],
        base.schema,
    )
    second.write.mode("append").parquet(landing)
    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark), **kwargs)
    rej = {
        r["url"]: r["reject_reason"]
        for r in spark.read.parquet(rejects).collect()
        if r["url"] not in drain1_rejects
    }
    assert rej.get("http://dup.example/replica") == "near_duplicate"
    # exactly one of the twin fresh pages is rejected as a batch dup
    twins = [u for u in rej if u.startswith("http://fresh.example/")]
    assert len(twins) == 1 and rej[twins[0]] == "near_duplicate"
    # no rejected url reaches the triples table; the kept twin does
    triples2 = spark.read.parquet(out)
    assert triples2.filter(F.col("url") == "http://dup.example/replica").count() == 0
    n2 = triples2.count()
    n_rej_total = spark.read.parquet(rejects).count()
    # exactly-once: re-drain with no new input adds nothing anywhere
    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark), **kwargs)
    assert spark.read.parquet(out).count() == n2
    assert spark.read.parquet(rejects).count() == n_rej_total


def test_streaming_pipeline_verb_predicates(spark, tmp_path):
    """Streaming parity for the r6 verb-predicate family: verb_lexicon=
    emits DIRECTED lexicon preds alongside the positional ones, through
    the same pinned-frame release path."""
    from neuroner_spark.fixtures.gen import alias_df, pages_df
    from neuroner_spark.plans.kg_pipeline import DEFAULT_VERB_LEXICON
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    landing = str(tmp_path / "landing")
    pages_df(spark, 200).write.parquet(landing)
    out = str(tmp_path / "triples")
    run_streaming_pipeline(
        spark, landing, out, str(tmp_path / "ckpt"), alias_df(spark),
        verb_lexicon=DEFAULT_VERB_LEXICON,
    )
    preds = {
        r["pred"]
        for r in spark.read.parquet(out).select("pred").distinct().collect()
    }
    assert preds & set(DEFAULT_VERB_LEXICON), preds
    assert {"same_sentence_as", "co_occurs_with"} <= preds


def test_streaming_uses_issued_canonical_store(spark, tmp_path):
    """canonical_store_dir= snapshots the issued-id mapping at stream
    start: after a batch-side merge of entities 5 and 6, streaming
    triples never emit the retired id 6 — one id space across the
    batch and streaming paths."""
    import datetime as dt

    from pyspark.sql import functions as F

    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.plans.kg_pipeline import run_incremental_canonical
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    canon_store = str(tmp_path / "canon")
    edges = spark.createDataFrame(
        [(e, e) for e in range(1, 12)] + [(5, 6)], "src long, dst long"
    )
    run_incremental_canonical(spark, edges, canon_store, 0)

    landing = str(tmp_path / "landing")
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    spark.createDataFrame(
        [("https://s/1", ts, "the merge sort beats the window and the table scan here", "en")],
        "url string, warc_ts timestamp, text string, lang string",
    ).write.parquet(landing)
    out = str(tmp_path / "triples")
    run_streaming_pipeline(
        spark, landing, out, str(tmp_path / "ckpt"), _aliases(spark),
        canonical_store_dir=canon_store,
    )
    t = spark.read.parquet(out)
    ids = {
        r["v"]
        for r in t.select(F.col("subj").alias("v"))
        .unionByName(t.select(F.col("obj").alias("v")))
        .distinct()
        .collect()
    }
    # merge sort AND window both canonicalize to 5; table scan (3)
    # keeps the pair predicates alive
    assert {3, 5} <= ids and 6 not in ids


def test_streaming_incremental_canonicalization(spark, tmp_path):
    """incremental_canonical=True: each micro-batch folds its same-as
    evidence into the issued-id store BEFORE building triples.  A
    merge discovered in batch 1 (evidence fn) retires an id batch 0
    already wrote; batch 0's partition is untouched (append-only),
    and read_streaming_triples re-keys the whole view."""
    import datetime as dt

    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.streaming.ingest import (
        read_streaming_triples,
        run_streaming_pipeline,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    canon_store = str(tmp_path / "canon")
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    schema = "url string, warc_ts timestamp, text string, lang string"

    def page_ids(df):
        return {
            r["v"]
            for r in df.select(F.col("subj").alias("v"))
            .unionByName(df.select(F.col("obj").alias("v")))
            .distinct()
            .collect()
        }

    # drain 1 (batch 0, canonical snapshot 1): no extra evidence —
    # merge sort (5), window (6), table scan (3) stay distinct ids
    spark.createDataFrame(
        [("https://s/1", ts, "the merge sort beats the window and the table scan here", "en")],
        schema,
    ).write.parquet(landing)
    run_streaming_pipeline(
        spark, landing, out, ckpt, _aliases(spark),
        canonical_store_dir=canon_store, incremental_canonical=True,
    )
    raw1 = spark.read.parquet(out)
    assert {3, 5, 6} <= page_ids(raw1)
    assert os.path.isdir(os.path.join(canon_store, "mapping", "snapshot=1"))

    # drain 2 (batch 1, snapshot 2): evidence merges window into merge
    # sort (6 -> 5, oldest issued id wins)
    def evidence(batch_df, batch_id):
        return spark.createDataFrame([(5, 6)], "src long, dst long")

    spark.createDataFrame(
        [("https://s/2", ts, "a window beside the table scan again", "en")], schema
    ).write.mode("append").parquet(landing)
    run_streaming_pipeline(
        spark, landing, out, ckpt, _aliases(spark),
        canonical_store_dir=canon_store, incremental_canonical=True,
        sameas_evidence_fn=evidence,
    )
    sup = spark.read.parquet(os.path.join(canon_store, "superseded", "snapshot=2"))
    assert [(r["old_canonical_id"], r["canonical_id"]) for r in sup.collect()] == [(6, 5)]
    # batch 1 wrote under the NEW mapping: its partition never emits 6
    b1 = spark.read.parquet(out).filter(F.col("batch_id") == 1)
    assert 6 not in page_ids(b1) and 5 in page_ids(b1)
    # batch 0's raw partition still holds the retired id (append-only)…
    assert 6 in page_ids(spark.read.parquet(out).filter(F.col("batch_id") == 0))
    # …but the consistent read-time view resolves it everywhere, and
    # the (5,6) pair triples collapse to self-loops and drop
    view = read_streaming_triples(spark, out, canon_store)
    assert 6 not in page_ids(view)
    assert view.filter(F.col("subj") == F.col("obj")).count() == 0
    assert {3, 5} <= page_ids(view)


def _stream_pages(spark, rows):
    from neuroner_spark.streaming.ingest import PAGES_SCHEMA

    # one file per drain, so each drain is one micro-batch
    return spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1)


def test_streaming_matches_batch_snapshots(spark, tmp_path):
    """Two micro-batches (near-dup gate + incremental canonicalization)
    and two run_incremental_kg snapshots over the same pages agree: the
    same triples per snapshot, the same non-kept doc ids and the same
    final issued mapping.  Snapshot 1 re-crawls 5 snapshot-0 pages
    under new urls and brings same-as evidence (3, 4), which merges
    two issued ids."""
    from neuroner_spark.fixtures.gen import alias_df, page_rows
    from neuroner_spark.plans.kg_pipeline import run_incremental_kg
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    rows = page_rows(60)
    recrawls = [(f"http://recrawl.example/{i}",) + tuple(r[1:]) for i, r in enumerate(rows[:5])]
    snaps = [rows[:40], rows[40:] + recrawls]
    aliases = alias_df(spark)

    def evidence(_batch_df, batch_id):
        if batch_id == 1:
            return spark.createDataFrame([(3, 4)], "src long, dst long")
        return None

    store = str(tmp_path / "store")
    batch = [
        run_incremental_kg(
            spark, _stream_pages(spark, snaps[k]), aliases, store, k,
            new_sameas_edges=evidence(None, k),
        )
        for k in (0, 1)
    ]

    landing, out, ckpt, rejects = (
        str(tmp_path / d) for d in ("landing", "triples", "ckpt", "rejects")
    )
    canon_store = str(tmp_path / "canon")
    for k in (0, 1):
        _stream_pages(spark, snaps[k]).write.mode("append").parquet(landing)
        run_streaming_pipeline(
            spark, landing, out, ckpt, aliases,
            rejects_dir=rejects, dedup_store_dir=str(tmp_path / "dedup"),
            canonical_store_dir=canon_store, incremental_canonical=True,
            sameas_evidence_fn=evidence,
        )

    def triples(df):
        return {tuple(r) for r in df.select("subj", "pred", "obj", "url", "warc_ts").collect()}

    def url_ids(df):
        return {r[0] for r in df.select(F.xxhash64("url")).collect()}

    dropped = {}
    for k in (0, 1):
        want = triples(batch[k]["triples"])
        assert want and triples(spark.read.parquet(os.path.join(out, f"batch_id={k}"))) == want
        dropped[k] = {
            r["doc_id"] for r in batch[k]["decisions"].filter(F.col("status") != "kept").collect()
        }
        assert url_ids(spark.read.parquet(os.path.join(rejects, f"batch_id={k}"))) == dropped[k]
    assert url_ids(_stream_pages(spark, recrawls)) <= dropped[1]

    def stored(*path):
        return {tuple(r) for r in spark.read.parquet(os.path.join(*path)).collect()}

    final = stored(store, "canonical", "mapping", "snapshot=1")
    assert len(final) == 200 and (4, 3) in final
    assert stored(canon_store, "mapping", "snapshot=2") == final
    retired = stored(store, "canonical", "superseded", "snapshot=1")
    assert retired == {(4, 3)}
    assert stored(canon_store, "superseded", "snapshot=2") == retired


def test_streaming_batches_write_stage_manifests(spark, tmp_path):
    """Each micro-batch runs run_pipeline under the stream's run
    directory: the lineage lists all 8 stages, and the triples manifest
    counts exactly the rows of the batch's sink partition."""
    import json

    from neuroner_spark.fixtures.gen import alias_df, page_rows
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    landing, out, ckpt = (str(tmp_path / d) for d in ("landing", "triples", "ckpt"))
    _stream_pages(spark, page_rows(30)).write.parquet(landing)
    run_streaming_pipeline(spark, landing, out, ckpt, alias_df(spark))
    with open(os.path.join(ckpt, "kg_run", "lineage.json")) as f:
        lineage = json.load(f)
    assert [m["stage"] for m in lineage] == [
        "normalized", "tokens", "mentions", "linked",
        "canonical", "triples", "co_occurs_capped", "entities",
    ]
    n_rows = next(m["n_rows"] for m in lineage if m["stage"] == "triples")
    assert n_rows > 0
    assert n_rows == spark.read.parquet(out).filter(F.col("batch_id") == 0).count()


def test_ingest_keeps_one_run_directory(spark, tmp_path):
    """Resume keys on content, not on directory names: a stream of three
    micro-batches keeps one run directory, each batch's sink partition
    holds its own triples manifest, and the fixed dictionary's stages
    (canonical, entities) resume after micro-batch 0.  Two batch
    snapshots keep one run directory in their store."""
    import json

    from neuroner_spark.fixtures.gen import alias_df, page_rows
    from neuroner_spark.plans.kg_pipeline import run_incremental_kg
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    rows = page_rows(30)
    aliases = alias_df(spark)
    landing, out, ckpt = (str(tmp_path / d) for d in ("landing", "triples", "ckpt"))
    for k in range(3):
        _stream_pages(spark, rows[10 * k : 10 * (k + 1)]).write.mode("append").parquet(landing)
        run_streaming_pipeline(spark, landing, out, ckpt, aliases)
    assert [d for d in os.listdir(ckpt) if d.startswith("kg_run")] == ["kg_run"]
    for k in range(3):
        part = os.path.join(out, f"batch_id={k}")
        with open(os.path.join(part, "_manifest.json")) as f:
            manifest = json.load(f)
        assert manifest["stage"] == "triples"
        assert manifest["n_rows"] == spark.read.parquet(part).count()
    with open(os.path.join(ckpt, "kg_run", "lineage.json")) as f:
        last = {m["stage"]: m for m in json.load(f)}
    assert not last["normalized"].get("resumed")
    assert last["canonical"].get("resumed") and last["entities"].get("resumed")

    store = str(tmp_path / "store")
    for k in range(2):
        run_incremental_kg(
            spark, _stream_pages(spark, rows[15 * k : 15 * (k + 1)]), aliases, store, k
        )
    assert sorted(os.listdir(store)) == ["canonical", "dedup", "run", "triples"]
    assert sorted(os.listdir(os.path.join(store, "triples"))) == ["snapshot=0", "snapshot=1"]


def test_streaming_releases_stream_start_canonical(spark, tmp_path, request):
    """canonical_store_dir= without incremental_canonical checkpoints
    the issued mapping once at stream start; the checkpoint is freed
    when the stream stops."""
    import datetime as dt

    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.plans.kg_pipeline import run_incremental_canonical
    from neuroner_spark.streaming.ingest import run_streaming_pipeline

    canon_store = str(tmp_path / "canon")
    edges = spark.createDataFrame(
        [(e, e) for e in range(1, 12)] + [(5, 6)], "src long, dst long"
    )
    run_incremental_canonical(spark, edges, canon_store, 0)
    landing = str(tmp_path / "landing")
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    spark.createDataFrame(
        [("https://s/1", ts, "the merge sort beats the window and the table scan here", "en")],
        "url string, warc_ts timestamp, text string, lang string",
    ).write.parquet(landing)
    # pins counted from here: the store seed above is not the stream's
    new_pinned = request.getfixturevalue("new_pinned")
    run_streaming_pipeline(
        spark, landing, str(tmp_path / "triples"), str(tmp_path / "ckpt"),
        _aliases(spark), canonical_store_dir=canon_store,
    )
    assert spark.read.parquet(str(tmp_path / "triples")).count() > 0
    assert new_pinned(0) == set()
