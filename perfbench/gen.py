"""Seeded input generators for the three workloads.

Everything the engine receives is built here from ``--seed`` before any
timing starts; the same seed always gives the same inputs. Sizes are set in
``SIZES`` (the full benchmark) and ``TINY`` (the smoke test).
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Full-size and smoke-test sizes per workload. On a 4-core host a full-size
# operation (a day, an admission batch, a curation pass) takes 5-10 s, so a
# run is dominated by the JVM start and the cold warm-up.
#
# index_maintenance takes its shape from the engine's steady-state admission
# rows (``lshindex_steady_admission``, ``fpindex_steady_admission``) at the
# test scale sf0.01 (500 documents): a 400-doc corpus (doc_id % 5 != 0),
# 100-doc batches (doc_id % 5 == 0), and a near-copy batch of 58 docs (every
# 7th corpus doc with its last token dropped), so 58 of the 158 batch docs
# (37%) are near copies. Here every batch and probe round carries that share.
# The ANN index has the shape of ``embedding_ann_index_txn_lifecycle`` at
# sf0.01: 64-dim vectors, 10 coarse cells, an 8-subspace x 16-code
# codebook, 3 queries per probe, n_probe=3, k=10.
SIZES = {
    "jobsdb_daily": {"window": 8, "slide": 2, "bands": 8, "max_days": 64, "kw_jobs": (265, 285)},
    "corpus_curation": {"docs": 1500, "exact_frac": 0.05, "near_frac": 0.05},
    "index_maintenance": {
        "base_docs": 400,
        "batch_docs": 100,
        "max_batches": 16,
        "near_frac": 58 / 158,
        "probe_docs": 100,
        "probe_queries": 3,
        "dim": 64,
        "cells": 10,
        "subspaces": 8,
        "codes": 16,
        "n_probe": 3,
        "k": 10,
    },
}
TINY = {
    "jobsdb_daily": {"window": 2, "slide": 1, "bands": 2, "max_days": 8, "kw_jobs": (40, 100)},
    "corpus_curation": {"docs": 120, "exact_frac": 0.1, "near_frac": 0.1},
    "index_maintenance": {
        "base_docs": 60,
        "batch_docs": 10,
        "max_batches": 8,
        "near_frac": 0.3,
        "probe_docs": 5,
        "probe_queries": 3,
        "dim": 16,
        "cells": 4,
        "subspaces": 4,
        "codes": 8,
        "n_probe": 2,
        "k": 5,
    },
}

# Token vocabulary and length range of the engine's documents test table
# (doc text is a bag of these words, 8-100 tokens).
VOCAB = (
    "a the data spark stream batch table column row key value group agg sort "
    "hash join filter scan query order line part customer vector window "
    "merge fast slow big small index shard cache commit schema plan stage "
    "task shuffle"
).split()


def _words(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]


# ----------------------------------------------------------- jobsdb_daily


def md5_int(s: str) -> int:
    """The first 32 bits of ``md5(s)``, the job site's hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def combo_job_ids(kw: str, lo: int, hi: int) -> list[str]:
    """The offline job site's (``sources.fake_site``) job ids for one
    (keyword, band) search, re-derived from its md5 rules as the
    ``reference_pipeline_e2e`` oracle does."""
    n = md5_int(f"{kw}|{lo}|{hi}") % 70
    n = 0 if n < 5 else n
    base = md5_int(f"ids|{kw}|{lo}|{hi}")
    return [str(100000 + (base + i) % 900000) for i in range(n)]


def search_pages(n_jobs: int) -> int:
    """Search result pages for a combo (page 1 is fetched even when empty)."""
    return max(1, math.ceil(n_jobs / 30))


@dataclass
class JobsdbInputs:
    """A sliding keyword window over a fixed salary-band grid.

    Day ``d`` scrapes ``keywords[d*slide : d*slide + window]`` × ``bands``;
    consecutive days share ``window - slide`` keywords, so from day 1 on
    about ``slide/window`` of the jobs are new. Day 0 is the warm-up day."""

    keywords: list[str]
    bands: list[tuple[int, int]]
    window: int
    slide: int

    def day_keywords(self, day: int) -> list[str]:
        s = day * self.slide
        return self.keywords[s : s + self.window]

    @property
    def max_days(self) -> int:
        return (len(self.keywords) - self.window) // self.slide + 1


def gen_jobsdb(seed: int, size: dict) -> JobsdbInputs:
    """Seeded keyword names over a seeded band grid. A keyword is kept only
    if the site lists ``kw_jobs`` (a range) jobs for it across the bands,
    so every day scrapes about the same number of pages whatever the
    seed."""
    rng = random.Random(seed)
    step = 5000
    lo0 = 10000 + step * rng.randint(0, 3)
    bands = [(lo0 + step * i, lo0 + step * (i + 1)) for i in range(size["bands"])]
    n_kw = size["window"] + size["slide"] * (size["max_days"] - 1)
    lo_jobs, hi_jobs = size["kw_jobs"]
    letters = "abcdefghijklmnopqrstuvwxyz"
    kws: list[str] = []
    while len(kws) < n_kw:
        kw = "".join(rng.choice(letters) for _ in range(5)) + "_" + rng.choice(
            ["engineer", "analyst", "scientist", "developer", "manager"]
        )
        n = sum(len(combo_job_ids(kw, lo, hi)) for lo, hi in bands)
        if kw not in kws and lo_jobs <= n <= hi_jobs:
            kws.append(kw)
    return JobsdbInputs(kws, bands, size["window"], size["slide"])


# -------------------------------------------------------- corpus_curation


@dataclass
class CorpusInputs:
    docs: pd.DataFrame  # doc_id, text, lang, source, n_chars
    planted_exact: list[tuple[int, int]]  # (original id, copy id)
    planted_near: list[tuple[int, int]]  # (original id, truncated copy id)
    input_bytes: int = 0


def _messy(rng: random.Random, text: str) -> str:
    """Same content after ``normalize_text``: whitespace runs, tabs and
    padding only."""
    out = []
    for tok in text.split(" "):
        out.append(tok)
        out.append(rng.choice([" ", "  ", "\t", " \n "]))
    return "  " + "".join(out[:-1]) + " "


def gen_corpus(seed: int, size: dict) -> CorpusInputs:
    """A documents table shaped like the engine's test corpus (bag-of-words
    text over a small vocabulary) with planted duplicates: exact copies
    that differ only in whitespace, and near copies with the last token
    dropped (the construction the near-dup registry queries use)."""
    rng = random.Random(seed)
    n = size["docs"]
    n_exact = int(n * size["exact_frac"])
    n_near = int(n * size["near_frac"])
    n_orig = n - n_exact - n_near
    texts = [" ".join(_words(rng, 8, 100)) for _ in range(n_orig)]
    ids = rng.sample(range(1, 20 * n), n)
    rows = [(ids[i], texts[i]) for i in range(n_orig)]
    planted_exact, planted_near = [], []
    # planted copies come from long docs so their shingle sets stay close
    long_docs = [i for i in range(n_orig) if len(texts[i].split()) >= 40]
    for j in range(n_exact):
        src = rng.choice(long_docs)
        cid = ids[n_orig + j]
        rows.append((cid, _messy(rng, texts[src])))
        planted_exact.append((ids[src], cid))
    for j in range(n_near):
        src = rng.choice(long_docs)
        cid = ids[n_orig + n_exact + j]
        rows.append((cid, re.sub(r"\s+\S+$", "", texts[src])))
        planted_near.append((ids[src], cid))
    rng.shuffle(rows)
    df = pd.DataFrame(rows, columns=["doc_id", "text"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["lang"] = [rng.choice(["en", "zh", "fr"]) for _ in range(len(df))]
    df["source"] = [f"src{rng.randint(0, 4)}" for _ in range(len(df))]
    df["n_chars"] = df["text"].str.len().astype("int64")
    return CorpusInputs(
        df, planted_exact, planted_near, int(df["text"].str.len().sum())
    )


# ------------------------------------------------------ index_maintenance


@dataclass
class IndexInputs:
    base: pd.DataFrame  # doc_id, text, embedding
    batches: list[pd.DataFrame]  # same columns; batch 0 is the warm-up
    probes: list[pd.DataFrame]  # doc_id, text, embedding (read-only rounds)
    codebook: list[list[list[float]]]
    centroids: list[tuple[int, list[float]]]


def gen_index(seed: int, size: dict) -> IndexInputs:
    """A base corpus plus a stream of small batches, each carrying a seeded
    share of near copies (last token dropped) of docs admitted before it.
    Probe rounds are shaped like batches, near copies taken from the base
    corpus. Every doc has an embedding drawn around one of ``cells`` seeded
    centres; the PQ codebook (``subspaces`` × ``codes``) and the coarse
    centroids are seeded too, so the index never trains."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    dim, cells = size["dim"], size["cells"]
    centres = nrng.normal(size=(cells, dim))

    next_id = [1]

    def new_doc(text: str) -> tuple:
        did = next_id[0]
        next_id[0] += 1 + rng.randint(0, 2)
        c = centres[rng.randrange(cells)]
        vec = np.round(c + 0.3 * nrng.normal(size=dim), 4)
        return (did, text, [float(x) for x in vec])

    cols = ["doc_id", "text", "embedding"]
    base_rows = [new_doc(" ".join(_words(rng, 30, 80))) for _ in range(size["base_docs"])]
    pool = list(base_rows)
    batches = []
    for _ in range(size["max_batches"]):
        rows = []
        for _ in range(size["batch_docs"]):
            if rng.random() < size["near_frac"]:
                src = rng.choice(pool)
                row = new_doc(re.sub(r"\s+\S+$", "", src[1]))
            else:
                row = new_doc(" ".join(_words(rng, 30, 80)))
            rows.append(row)
        pool.extend(rows)
        batches.append(pd.DataFrame(rows, columns=cols))
    probes = []
    for _ in range(size["max_batches"]):
        rows = []
        for _ in range(size["probe_docs"]):
            if rng.random() < size["near_frac"]:
                rows.append(new_doc(re.sub(r"\s+\S+$", "", rng.choice(base_rows)[1])))
            else:
                rows.append(new_doc(" ".join(_words(rng, 30, 80))))
        probes.append(pd.DataFrame(rows, columns=cols))
    m = size["subspaces"]
    codebook = [
        [[float(x) for x in np.round(nrng.normal(size=dim // m), 4)]
         for _ in range(size["codes"])]
        for _ in range(m)
    ]
    centroids = [(c, [float(x) for x in np.round(centres[c], 4)]) for c in range(cells)]
    base = pd.DataFrame(base_rows, columns=cols)
    return IndexInputs(base, batches, probes, codebook, centroids)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One parquet file: one input split, as the engine's own test tables
    are."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)


def write_parquet_parts(df: pd.DataFrame, path: str, parts: int) -> None:
    """A directory of ``parts`` parquet files of consecutive rows. Each
    small file is one input split, so Spark reads the frame in ``parts``
    partitions, as a production stream's batches arrive."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), parts + 1).astype(int)
    for i in range(parts):
        df.iloc[bounds[i] : bounds[i + 1]].to_parquet(
            os.path.join(path, f"part-{i:03d}.parquet"), index=False
        )
