"""The two workloads.  Each runs in one driver process on local[4],
one client, closed loop.  A run sets up, then repeats the workload's
bulk operation for ``--seconds`` seconds (at least ``MIN_BULK_OPS``
times).  A traced run then also makes single-item requests for
``--seconds`` seconds; their latency is a per-layer figure, because a
request costs 0.5-2 s of Spark job latency on a 4-core host, so a run
within the time budget could not take enough of them for a steady
median.

- ``ingest``: bulk = ``run_incremental_kg`` of snapshot 1 into a fresh
  copy of the seeded snapshot-0 store; requests = ``read_kg_triples``
  lookups of one entity on the store the ingest just wrote.
- ``tag``: bulk = ``tokenize`` -> ``tag_tokens`` -> ``extract_spans``
  over the corpus; requests = ``api.predict`` on one document text.

Every operation's output is checked; an exception or a failed check
counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.ledger import Ledger

CORES = 4
MIN_BULK_OPS = {"ingest": 1, "tag": 3}
TAG_WARMUP_OPS = 2
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
PIPELINE_STAGES = (
    "normalized", "tokens", "mentions", "linked", "canonical", "triples",
    "co_occurs_capped", "entities",
)
SAMEAS_EDGE = (5, 6)  # the cross-snapshot evidence: Merge Sort == Window Function


class CheckFailed(Exception):
    pass


def probe_once() -> float:
    """bench.py's pure-Python host-load probe; recorded, not a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the JVM and its Python workers), with their reaped children's.
    Unlike the wall, it leaves out the time a shared host runs others."""
    tree: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # after "(comm)": state ppid ... utime stime cutime cstime
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we listed /proc
            continue
        tree.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(tree.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def fingerprint(df) -> tuple[int, int]:
    """Row count plus the order-insensitive xxhash64 sum, in one action."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns) % F.lit(1 << 40)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class Run:
    """State of one benchmark run: the session, the tracing switch and
    the operation tally."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {"workload": workload, "seed": seed, "trace": trace}
        with open(PINS) as f:
            self.pins = json.load(f)

    # -- set-up --------------------------------------------------------
    def start_spark(self):
        t0 = time.perf_counter()
        from neuroner_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            cores=CORES,
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.ledger = Ledger(self.spark)
        # the Python workers start, and warm, inside the workload's own
        # first operation, which set-up includes
        self.detail["setup_parts_s"] = {"session": time.perf_counter() - t0}

    # -- one operation -------------------------------------------------
    def call(self, name: str, fn, check=None):
        """Run ``fn`` (traced under its own job group when tracing);
        -> (wall_s, ledger record, result), or None when it raised or
        its ``check`` failed.  The record holds the call's CPU time."""
        self.attempted += 1
        try:
            cpu0 = tree_cpu_s()
            if self.trace:
                with self.ledger.span(name) as rec:
                    out = fn()
            else:
                rec = {}
                t0 = time.perf_counter()
                out = fn()
                rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            if check is not None:
                check(out)
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        return rec["wall_s"], rec, out

    def bulk(self, name: str, prepare, check) -> list:
        """Repeat the bulk operation for ``--seconds`` seconds and at
        least ``MIN_BULK_OPS`` times; ``prepare()`` runs untimed before
        each operation and returns it."""
        done, t_end = [], time.perf_counter() + self.seconds
        while len(done) < MIN_BULK_OPS[self.workload] or time.perf_counter() < t_end:
            res = self.call(name, prepare(), check)
            if res is None:
                break
            done.append(res)
        return done

    def requests(self, name: str, fns, check) -> list[dict]:
        """Closed loop over ``fns`` (one warm-up call, then as many calls
        as fit in ``--seconds``)."""
        self.call(f"{name}-warmup", fns[0][1], lambda out: check(fns[0][0], out))
        recs = []
        t_end = time.perf_counter() + self.seconds
        for key, fn in fns[1:]:
            if time.perf_counter() >= t_end:
                break
            r = self.call(name, fn, lambda out, key=key: check(key, out))
            if r is not None:
                r[1]["n_out"] = len(r[2])
                recs.append(r[1])
        return recs

    def stop(self):
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; wait for it
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _request_summary(recs: list[dict]) -> dict:
    walls = sorted(r["wall_s"] for r in recs)
    n = len(walls)
    out = {"n": n, "p50_ms": _median(walls) * 1e3}
    # the highest percentile with at least ten samples beyond it, once
    # there are enough samples for it to lie at or above the median
    if n >= 20:
        out["tail_pct"] = 100.0 * (n - 10) / n
        out["tail_ms"] = walls[n - 11] * 1e3
    return out


# -- ingest ------------------------------------------------------------
def run_ingest(run: Run) -> dict:
    from pyspark.sql import functions as F

    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.plans.kg_pipeline import read_kg_triples, run_incremental_kg

    texts = inputs.corpus()
    p0_path = os.path.join(run.work, "snapshot0.parquet")
    p1_path = os.path.join(run.work, "snapshot1.parquet")
    inputs.write_snapshot0(p0_path, texts)
    urls1, texts1, recrawl_urls = inputs.snapshot1(texts, run.seed)
    inputs.write_pages(p1_path, urls1, texts1)

    t0 = time.perf_counter()
    run.start_spark()
    spark = run.spark
    aliases = _aliases(spark)
    seed_store = os.path.join(run.work, "seed_store")
    t_seed = time.perf_counter()
    run_incremental_kg(spark, spark.read.parquet(p0_path), aliases, seed_store, 0)
    run.detail["setup_parts_s"]["seed_store"] = time.perf_counter() - t_seed
    setup_s = time.perf_counter() - t0

    pages1 = spark.read.parquet(p1_path)
    edges = spark.createDataFrame([SAMEAS_EDGE], "src long, dst long")
    recrawl_ids = spark.createDataFrame([(u,) for u in recrawl_urls], "url string").select(
        F.xxhash64("url").alias("doc_id")
    )
    pin = run.pins["ingest"].get(str(run.seed))
    run.detail["pinned"] = pin is not None
    seen: dict = {}

    def check_ingest(out):
        store, r, fp = out
        n_sup = r["superseded"].count()
        if fp[0] <= 0 or n_sup <= 0:
            raise CheckFailed(f"empty triples ({fp[0]}) or superseded ({n_sup})")
        dec = r["decisions"].join(recrawl_ids, "doc_id", "left_semi")
        n_dropped = dec.filter(F.col("status") != "kept").count()
        drop_frac = n_dropped / len(recrawl_urls)
        seen.setdefault("fp", fp)
        seen["drop_frac"] = drop_frac
        if fp != seen["fp"]:
            raise CheckFailed(f"triples {fp} differ from this run's first {seen['fp']}")
        if pin is not None and (list(fp) != pin["triples"] or drop_frac != pin["drop_frac"]):
            raise CheckFailed(f"triples {fp} / drop_frac {drop_frac} != pinned {pin}")

    copies = []

    def prepare():
        # a fresh copy per operation, made and deleted outside the timed
        # span: re-running snapshot 1 against the same store would
        # resume every stage from its manifest
        while copies:
            shutil.rmtree(copies.pop())
        store = os.path.join(run.work, "store")
        shutil.copytree(seed_store, store)
        copies.append(store)

        def op():
            r = run_incremental_kg(spark, pages1, aliases, store, 1, new_sameas_edges=edges)
            return store, r, fingerprint(r["triples"])

        return op

    bulk = run.bulk("ingest", prepare, check_ingest)
    run.detail["fingerprint"] = {"triples": seen.get("fp"), "drop_frac": seen.get("drop_frac")}

    lookups: list[dict] = []
    if bulk and run.trace:
        store = bulk[-1][2][0]
        oracle = _store_oracle(store)
        ids = sorted(set(oracle["subj"]) | set(oracle["obj"]))
        seq = inputs.lookup_sequence(ids, run.seed, 10_000)

        def lookup(e):
            t = read_kg_triples(spark, store)
            return t.filter((F.col("subj") == e) | (F.col("obj") == e)).collect()

        def check_lookup(e, rows):
            got = sorted((r["subj"], r["pred"], r["obj"], r["url"]) for r in rows)
            m = oracle[(oracle["subj"] == e) | (oracle["obj"] == e)]
            want = sorted(zip(m["subj"], m["pred"], m["obj"], m["url"]))
            if got != want:
                raise CheckFailed(f"lookup {e}: {len(got)} rows, oracle {len(want)}")

        lookups = run.requests(
            "lookup", [(e, lambda e=e: lookup(e)) for e in seq], check_lookup
        )

    walls = [b[0] for b in bulk]
    cpus = [b[1]["cpu_s"] for b in bulk]
    req = _request_summary(lookups)
    run.detail.update(bulk_walls_s=walls, bulk_cpu_s=cpus, requests=req)
    run.detail["bulk_items_per_wall_s"] = len(urls1) / _median(walls) if walls else 0.0
    metrics = {
        "setup_s": setup_s,
        "bulk_items_per_cpu_s": len(urls1) / _median(cpus) if cpus else 0.0,
    }
    layers = {}
    if run.trace:
        recs = [b[1] for b in bulk]
        res = [b[2][1] for b in bulk]
        layers.update(_bulk_layers("ingest", recs))
        layers["corpus_pipeline.dedup_gate_s"] = _median([r["step_walls"]["dedup_gate"] for r in res])
        layers["dedup.drop_frac"] = seen.get("drop_frac", 0.0)
        layers["components.canonical_merge_s"] = _median([r["step_walls"]["canonical_merge"] for r in res])
        layers["kg_pipeline.pipeline_s"] = _median([r["step_walls"]["pipeline"] for r in res])
        layers["kg_pipeline.triple_append_s"] = _median([r["step_walls"]["triple_append"] for r in res])
        for st in PIPELINE_STAGES:
            layers[f"kg_pipeline.stage.{st}_s"] = _median(
                [m["wall_s"] for r in res for m in r["lineage"] if m["stage"] == st]
            )
        layers["lookup.p50_ms"] = req["p50_ms"]
        layers["lookup.jobs_per_call"] = _median([r["jobs"] for r in lookups])
        layers["lookup.rows_scanned_per_row_returned"] = sum(
            r["input_records"] for r in lookups
        ) / max(1, sum(r["n_out"] for r in lookups))
        layers["storage_mb"] = run.ledger.storage_mb()
    return {"metrics": metrics, "layers": layers}


def _store_oracle(store: str):
    """The consistent triple view computed without Spark: every snapshot
    partition, re-keyed through the path-compressed superseded chain,
    symmetric predicates ordered, self-loops dropped, distinct."""
    import pandas as pd

    from neuroner_spark.plans.kg_pipeline import SYMMETRIC_PREDS

    def read_all(sub):
        root = os.path.join(store, sub)
        parts = sorted(d for d in os.listdir(root) if d.startswith("snapshot="))
        return pd.concat([pq.read_table(os.path.join(root, d)).to_pandas() for d in parts])

    t = read_all("triples")[["subj", "pred", "obj", "url"]]
    sup = read_all(os.path.join("canonical", "superseded"))
    nxt = dict(zip(sup["old_canonical_id"].astype(int), sup["canonical_id"].astype(int)))

    def final(x):
        seen = set()
        while x in nxt and x not in seen:
            seen.add(x)
            x = nxt[x]
        return x

    subj = t["subj"].map(lambda x: final(int(x)))
    obj = t["obj"].map(lambda x: final(int(x)))
    sym = t["pred"].isin(SYMMETRIC_PREDS)
    t = t.assign(
        subj=subj.where(~sym, pd.concat([subj, obj], axis=1).min(axis=1)),
        obj=obj.where(~sym, pd.concat([subj, obj], axis=1).max(axis=1)),
    )
    return t[t["subj"] != t["obj"]].drop_duplicates().reset_index(drop=True)


# -- tag ---------------------------------------------------------------
def run_tag(run: Run) -> dict:
    from pyspark.sql import functions as F

    from neuroner_spark import api
    from neuroner_spark.functions.tokenize import tokenize, tokenize_text
    from neuroner_spark.model.tagger import tag_tokens
    from neuroner_spark.model.weights import make_bundle
    from neuroner_spark.operators.spans import extract_spans

    texts = inputs.corpus()
    corpus_path = os.path.join(run.work, "corpus.parquet")
    inputs.write_corpus(corpus_path, texts)
    n_tokens = sum(len(tokenize_text(t)) for t in texts)

    t0 = time.perf_counter()
    run.start_spark()
    spark = run.spark
    t_b = time.perf_counter()
    bundle = make_bundle(1 << 16, seed=42)
    run.detail["setup_parts_s"]["bundle"] = time.perf_counter() - t_b

    docs = spark.read.parquet(corpus_path)
    span_cols = ["doc_id", "sent_id", "type", "start", "end", "surface"]

    def chain():
        tagged = tag_tokens(spark, tokenize(docs), bundle)
        return extract_spans(tagged, label_col="label").select(*span_cols)

    pin = run.pins["tag"].get("spans")
    run.detail["pinned"] = pin is not None
    seen: dict = {}

    def check_bulk(fp):
        seen.setdefault("fp", fp)
        if fp != seen["fp"] or (pin is not None and list(fp) != pin):
            raise CheckFailed(f"spans {fp} != pinned {pin} (first {seen['fp']})")

    # warm-up, part of set-up: untimed bulk operations.  The JVM keeps
    # getting faster over the first few (measured: 5.0, 4.4, 4.0 s)
    t_w = time.perf_counter()
    for _ in range(TAG_WARMUP_OPS):
        run.call("tag-warmup", lambda: fingerprint(chain()), check_bulk)
    run.detail["setup_parts_s"]["warmup"] = time.perf_counter() - t_w
    setup_s = time.perf_counter() - t0

    bulk = run.bulk("tag", lambda: lambda: fingerprint(chain()), check_bulk)
    run.detail["fingerprint"] = {"spans": seen.get("fp")}

    predicts: list[dict] = []
    if run.trace:
        # the bulk chain's spans of the predict documents (the filter
        # sits above the tagger, so every document is tagged) are the
        # reference every predict answer is checked against
        seq = inputs.predict_sequence(len(texts), run.seed, 10_000)
        want_ids = sorted(set(seq[:400]))
        expected: dict = {d: [] for d in want_ids}
        for r in chain().filter(F.col("doc_id").isin([str(d) for d in want_ids])).collect():
            expected[int(r["doc_id"])].append((r["surface"], r["type"], r["start"], r["end"]))

        def check_predict(d, out):
            got = sorted((e["text"], e["type"], e["start"], e["end"]) for e in out)
            if d not in expected or got != sorted(expected[d]):
                raise CheckFailed(f"predict doc {d}: {len(got)} spans, bulk chain {len(expected.get(d, []))}")

        storage0 = run.ledger.storage_mb()
        predicts = run.requests(
            "predict",
            [(d, lambda d=d: api.predict(spark, texts[d], bundle)) for d in seq],
            check_predict,
        )

    walls = [b[0] for b in bulk]
    cpus = [b[1]["cpu_s"] for b in bulk]
    req = _request_summary(predicts)
    run.detail.update(bulk_walls_s=walls, bulk_cpu_s=cpus, requests=req)
    run.detail["bulk_items_per_wall_s"] = n_tokens / _median(walls) if walls else 0.0
    metrics = {
        "setup_s": setup_s,
        "bulk_items_per_cpu_s": n_tokens / _median(cpus) if cpus else 0.0,
    }
    layers = {}
    if run.trace:
        layers.update(_bulk_layers("tag", [b[1] for b in bulk]))
        storage = run.ledger.storage_mb()
        layers["predict.p50_ms"] = req["p50_ms"]
        layers["predict.jobs_per_call"] = _median([r["jobs"] for r in predicts])
        # storage0 was read before the warm-up predict, hence the + 1
        layers["predict.storage_mb_per_call"] = (storage - storage0) / (len(predicts) + 1)
        layers["storage_mb"] = storage
        layers.update(_tag_layer_walls(run, docs, bundle, span_cols, check_bulk, _median(walls)))
    return {"metrics": metrics, "layers": layers}


def _tag_layer_walls(run, docs, bundle, span_cols, check_bulk, chain_wall) -> dict:
    """Time each layer of the chain to an action on the previous
    layer's materialized output."""
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.model.tagger import tag_tokens
    from neuroner_spark.operators.spans import extract_spans

    out = {}
    tok = run.call("tokenize", lambda: tokenize(docs).localCheckpoint())
    tagged = tok and run.call("tagger", lambda: tag_tokens(run.spark, tok[2], bundle).localCheckpoint())
    spans = tagged and run.call(
        "spans",
        lambda: fingerprint(extract_spans(tagged[2], label_col="label").select(*span_cols)),
        check_bulk,
    )
    for name, res in (("tokenize", tok), ("tagger", tagged), ("spans", spans)):
        out[f"{name}.s"] = res[0] if res else 0.0
    out["tag.trace_gap_s"] = sum(out.values()) - chain_wall
    return out


def _bulk_layers(prefix: str, recs: list[dict]) -> dict:
    keys = ("jobs", "slot_busy_frac", "driver_only_s", "shuffle_write_mb", "spill_mb")
    return {f"{prefix}.{k}": _median([r[k] for r in recs]) for k in keys}


WORKLOADS = {"ingest": run_ingest, "tag": run_tag}
