"""Seeded inputs for the benchmark workloads.

The corpus is fixed (its own seed, ``CORPUS_SEED``) and has the shape
of the sf0.1 ``documents`` table: documents of 10-100 words drawn
uniformly from the same 30-word filler vocabulary, so the pinned alias
dictionary of ``plans.catalog_kg`` matches it.  It holds 1,000
documents, not sf0.1's 5,000: a snapshot ingest is bound by its ~140
Spark jobs, not by its input size, and the smaller corpus keeps a run
within the benchmark's time budget.  The workload seed only
decides what is derived from it:

- which half of the corpus snapshot 1 re-crawls (same text, new url),
- how the other half is perturbed into fresh pages (a seeded word
  permutation per page),
- the lookup entity sequence,
- the predict text sequence.

Everything is written as Parquet with pyarrow (no Spark job), so the
program only ever receives DataFrames read from these files.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
N_DOCS = 1000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
WARC_TS = dt.datetime(2024, 1, 1)


def corpus(n_docs: int = N_DOCS) -> list[str]:
    """Document texts; the document id is the list index."""
    rng = np.random.default_rng(CORPUS_SEED)
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + n]))
        at += n
    return texts


def _url(doc_id: int, kind: str) -> str:
    return f"https://h{doc_id % 50}.example/{kind}{doc_id}"


def snapshot0_text(doc_id: int, text: str) -> str:
    # a per-page suffix keeps near-dedup from folding snapshot 0 into itself
    return f"{text} zsnap0x{doc_id}"


def write_pages(path: str, urls: list[str], texts: list[str]) -> None:
    n = len(urls)
    pq.write_table(
        pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array([WARC_TS] * n, pa.timestamp("us")),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
            }
        ),
        path,
    )


def write_snapshot0(path: str, texts: list[str]) -> None:
    ids = range(len(texts))
    write_pages(path, [_url(i, "a") for i in ids], [snapshot0_text(i, texts[i]) for i in ids])


def snapshot1(texts: list[str], seed: int) -> tuple[list[str], list[str], list[str]]:
    """-> (urls, texts, recrawl_urls).  Half of the corpus, chosen by the
    seed, is re-crawled under a mirror url with its snapshot-0 text; the
    other half becomes fresh pages whose words are permuted by the seed."""
    rng = np.random.default_rng([seed, 1])
    order = rng.permutation(len(texts))
    recrawl = sorted(int(i) for i in order[: len(texts) // 2])
    fresh = sorted(int(i) for i in order[len(texts) // 2 :])
    urls = [_url(i, "mirror") for i in recrawl]
    out = [snapshot0_text(i, texts[i]) for i in recrawl]
    for i in fresh:
        words = texts[i].split(" ")
        perm = rng.permutation(len(words))
        urls.append(_url(i, "b"))
        out.append(" ".join(words[p] for p in perm) + f" zfresh{i}")
    return urls, out, urls[: len(recrawl)]


def write_corpus(path: str, texts: list[str]) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([str(i) for i in range(len(texts))], pa.string()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        path,
    )


def lookup_sequence(entity_ids: list[int], seed: int, n: int) -> list[int]:
    rng = np.random.default_rng([seed, 2])
    return [int(entity_ids[i]) for i in rng.integers(0, len(entity_ids), n)]


def predict_sequence(n_docs: int, seed: int, n: int) -> list[int]:
    """Document ids whose texts the predict requests send, in order."""
    rng = np.random.default_rng([seed, 3])
    return [int(i) for i in rng.integers(0, n_docs, n)]
