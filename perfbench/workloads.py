"""The three workloads. Each one generates its inputs from the seed, warms
up, runs one timed operation at a time (a closed loop with one client), and
checks its outputs against an independent derivation after the timed region.

The engine is driven only through its public functions: ``pipelines.*``,
``operators.*``, ``sources.txn.TxnTable``, ``sources.mv`` (through the
indexes) and ``session.get_spark``.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import re
import time
from datetime import date, timedelta

import pandas as pd

from perfbench import gen

# ----------------------------------------------------------------- common


class Workload:
    """One workload. ``op(i)`` runs the i-th timed operation and returns
    ``(kind, items)``; operation 1 is of the ``primary`` kind, whose median
    is ``op_p50_s``. The timed loop runs until ``--seconds`` have passed and
    it has seen all ``n_kinds`` kinds."""

    name = ""
    primary = ""
    n_kinds = 1

    def __init__(self, seed: int, size: dict, work: str, tracer):
        self.seed, self.size, self.work, self.tr = seed, size, work, tracer
        self.spark = None
        self.cores = 1

    def generate(self) -> dict:  # input sizes for the provenance stamp
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def op(self, i: int) -> tuple[str, int]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def corrupt(self) -> None:
        """Damage one persisted output (smoke test: the check must fail)."""
        raise NotImplementedError

    def stored_dir(self) -> str:
        return os.path.join(self.work, "out")

    def input_bytes(self) -> int:
        raise NotImplementedError

    def trace_extras(self) -> dict[str, float]:
        return {}

    def begin_timed(self) -> None:
        pass

    def end_timed(self) -> None:
        pass


def txn_tables(root: str) -> list[str]:
    return sorted(os.path.dirname(p) for p in glob.glob(os.path.join(root, "**", "_txn"), recursive=True))


def txn_versions(root: str) -> dict[str, int]:
    from scraping_jobsdb_spark.sources.txn import current_version

    return {t: current_version(t) for t in txn_tables(root)}


def txn_commit_extras(root: str, before: dict[str, int]) -> dict[str, float]:
    """Commits, files and bytes the txn layer published since ``before``."""
    from scraping_jobsdb_spark.sources.txn import current_version, read_manifest

    commits = files = nbytes = 0
    for t in txn_tables(root):
        v0, v1 = before.get(t, 0), current_version(t)
        prev = set(read_manifest(t, v0)["files"]) if v0 else set()
        for v in range(v0 + 1, v1 + 1):
            cur = set(read_manifest(t, v)["files"])
            added = cur - prev
            commits += 1
            files += len(added)
            nbytes += sum(
                os.path.getsize(os.path.join(t, f))
                for f in added
                if os.path.exists(os.path.join(t, f))
            )
            prev = cur
    return {
        "sources.txn.commits": commits,
        "sources.txn.files_added": files,
        "sources.txn.bytes_written": nbytes,
    }


# ---------------------------------------------------------- jobsdb_daily


def _counted_transport(calls, secs, url: str) -> str:
    """``fake_transport`` plus worker-side call and time counters."""
    from scraping_jobsdb_spark.sources.fake_site import fake_transport

    t0 = time.perf_counter()
    try:
        return fake_transport(url)
    finally:
        calls.add(1)
        secs.add(time.perf_counter() - t0)


_TITLES = ["Data Engineer", "Analyst", "ML Engineer", "Backend Developer"]
_COMPANIES = ["Acme Ltd", "Globex", "Initech", "Umbrella Corp"]
_LOCATIONS = ["Central", "Kwun Tong", "Tsim Sha Tsui"]
_LEVELS = ["Entry Level", "Middle", "Senior"]
_FUNCTIONS = [["IT", "Data"], ["Finance", "Accounting"], ["Engineering", "Hardware"]]


def expected_parsed(inp: gen.JobsdbInputs, days: list[date]) -> pd.DataFrame:
    """Closed form of the parsed-and-imputed table after ``days``: one row
    per job, fields from the job id's md5, salary interval from the bands
    of the day the job was first scraped (later imputes keep it)."""
    first: dict[str, tuple[date, int, int]] = {}
    for d, day in enumerate(days):
        seen: dict[str, tuple[int, int]] = {}
        for kw in inp.day_keywords(d):
            for lo, hi in inp.bands:
                for j in gen.combo_job_ids(kw, lo, hi):
                    a, b = seen.get(j, (lo, hi))
                    seen[j] = (min(a, lo), max(b, hi))
        for j, (lo, hi) in seen.items():
            if j not in first:
                first[j] = (day, lo, hi)
    rows = []
    for j, (day, lo, hi) in first.items():
        h = gen.md5_int(j)
        title, company = _TITLES[h % 4], _COMPANIES[h % 4]
        rows.append({
            "job_id": j,
            "job_title": title,
            "company_name": company,
            "job_description": f"Great {title} role at {company}.",
            "location": _LOCATIONS[h % 3],
            "official_post_date": (
                day - timedelta(days=1 + h % 9) if h % 5 == 0 else date(2022, 10, 3)
            ),
            "min_official_salary": (20 + h % 30) * 1000 if h % 3 == 0 else None,
            "max_official_salary": (55 + h % 40) * 1000 if h % 3 == 0 else None,
            "career_level": _LEVELS[h % 3],
            "qualification": "Degree",
            "job_type": "Full Time",
            "job_functions": _FUNCTIONS[h % 3],
            "industry": "Information Technology",
            "min_salary": lo,
            "max_salary": hi,
        })
    return pd.DataFrame(rows)


def expected_fetches(inp: gen.JobsdbInputs, day_idx: int, known: set) -> tuple[int, set]:
    """Distinct URLs one day must fetch: every search page (page 1 even
    with zero results) plus the detail page of every job not yet known."""
    urls, new = 0, set()
    for kw in inp.day_keywords(day_idx):
        for lo, hi in inp.bands:
            ids = gen.combo_job_ids(kw, lo, hi)
            urls += gen.search_pages(len(ids))
            new.update(j for j in ids if j not in known)
    return urls + len(new), new


class JobsdbDaily(Workload):
    name = "jobsdb_daily"
    primary = "day"

    def generate(self):
        self.inp = gen.gen_jobsdb(self.seed, self.size)
        self.base_day = date(2026, 8, 1)
        self.days: list[date] = []
        return {
            "keywords_per_day": self.inp.window,
            "keyword_slide": self.inp.slide,
            "bands": len(self.inp.bands),
        }

    def _paths(self):
        o = self.stored_dir()
        return {k: os.path.join(o, k) for k in ("lake", "raw", "catalog", "parsed", "csv")}

    def setup(self, spark):
        self.spark = spark
        self.p = self._paths()
        if self.tr.enabled:
            sc = spark.sparkContext
            self.calls, self.secs = sc.accumulator(0), sc.accumulator(0.0)
            self.transport = functools.partial(_counted_transport, self.calls, self.secs)
        else:
            from scraping_jobsdb_spark.sources.fake_site import fake_transport

            self.transport = fake_transport
        self._day(0)  # warm-up: day 0, the first keyword window (untimed)

    def _day(self, d: int) -> int:
        from scraping_jobsdb_spark.pipelines import export, impute, ingest, parse

        p, day, tr = self.p, self.base_day + timedelta(days=d), self.tr
        with tr.span("pipelines.ingest"):
            ingest.ingest(
                self.spark, self.transport, p["lake"], p["raw"], p["catalog"], day,
                keywords=self.inp.day_keywords(d), bands=self.inp.bands,
                fetch_partitions=self.cores, delay_s=0.0,
            )
        with tr.span("pipelines.parse"):
            n = parse.parse(self.spark, p["lake"], p["parsed"], day.year, day.month, day.day)
        with tr.span("pipelines.impute"):
            impute.impute(self.spark, p["raw"], p["parsed"])
        with tr.span("pipelines.export"):
            export.export(self.spark, p["parsed"], p["csv"])
        self.days.append(day)
        return n

    def op(self, i):
        if i >= self.inp.max_days:
            raise RuntimeError("jobsdb_daily ran out of generated days")
        return "day", self._day(i)

    def input_bytes(self):
        from scraping_jobsdb_spark.sources import fake_site

        total, known = 0, set()
        for d in range(len(self.days)):
            for kw in self.inp.day_keywords(d):
                for lo, hi in self.inp.bands:
                    pages = gen.search_pages(len(gen.combo_job_ids(kw, lo, hi)))
                    total += sum(
                        len(fake_site.search_page_html(kw, lo, hi, pg))
                        for pg in range(1, pages + 1)
                    )
            _, new = expected_fetches(self.inp, d, known)
            total += sum(len(fake_site.detail_page_html(j)) for j in new)
            known |= new
        return total

    def trace_extras(self):
        known, urls = set(), 0
        for d in range(len(self.days)):
            n, new = expected_fetches(self.inp, d, known)
            known |= new
            if d >= len(self.days) - self.timed_days:
                urls += n
        calls = self.calls.value - self.calls_before
        return {
            "sources.fake_site.calls": calls,
            "sources.fake_site.task_s": self.secs.value - self.secs_before,
            "sources.fake_site.fetch_per_url": calls / urls if urls else 0.0,
        }

    def begin_timed(self):
        if self.tr.enabled:
            self.calls_before, self.secs_before = self.calls.value, self.secs.value
        self.days_before = len(self.days)

    def end_timed(self):
        self.timed_days = len(self.days) - self.days_before

    def check(self):
        import pyarrow.parquet as pq

        from scraping_jobsdb_spark.sources.txn import read_table_any

        errs = []
        got = read_table_any(self.spark, self.p["parsed"]).toPandas()
        want = expected_parsed(self.inp, self.days)
        cols = list(want.columns)
        if sorted(got.columns) != sorted(cols):
            return [f"parsed table columns {sorted(got.columns)} != {sorted(cols)}"]

        def canon(df):
            df = df[cols].copy()
            df["job_functions"] = df["job_functions"].map(
                lambda v: ";".join(v) if v is not None and len(v) else None
            )
            for c in ("min_official_salary", "max_official_salary", "min_salary", "max_salary"):
                df[c] = df[c].astype("Int64")
            df["official_post_date"] = df["official_post_date"].astype(str)
            return df.sort_values("job_id").reset_index(drop=True).astype(object).where(
                lambda x: x.notna(), None
            )

        g, w = canon(got), canon(want)
        if len(g) != len(w):
            errs.append(f"parsed table has {len(g)} rows, closed form {len(w)}")
        elif not g.equals(w):
            bad = (g != w).any(axis=1)
            errs.append(f"{int(bad.sum())} parsed rows differ from the closed form, "
                        f"first job_id {g[bad].iloc[0]['job_id']}")
        csvs = glob.glob(os.path.join(self.p["csv"], "*.csv"))
        n_csv = sum(len(pd.read_csv(f)) for f in csvs)
        if n_csv != len(got):
            errs.append(f"CSV export has {n_csv} rows, table {len(got)}")
        lake = pq.read_table(self.p["lake"], columns=["html"]).column("html")
        if lake.null_count:
            errs.append(f"{lake.null_count} lake rows carry a fetch error")
        return errs

    def corrupt(self):
        from pyspark.sql import functions as F

        from scraping_jobsdb_spark.sources.txn import TxnTable

        t = TxnTable(self.spark, self.p["parsed"])
        t.overwrite(t.read().withColumn("min_salary", F.col("min_salary") + 1))


# -------------------------------------------------------- corpus_curation


def _normalize(text: str) -> str:
    """``normalize_text`` for ASCII input: whitespace runs to one space,
    then trim."""
    return re.sub(r"[ \t\n\f\r]+", " ", text).strip(" ")


def _oracle_body(name: str, marker: str) -> str:
    """The registered DuckDB oracle of query ``name`` from ``marker`` on,
    so it can run over this workload's corpus instead of the test table."""
    from scraping_jobsdb_spark.plans.queries import oracle_sql

    sql = oracle_sql()[name]
    at = sql.find(marker)
    if at < 0:
        raise RuntimeError(f"oracle of {name} no longer contains {marker!r}")
    return sql[at:]


class CorpusCuration(Workload):
    name = "corpus_curation"
    primary = "pass"

    def generate(self):
        self.inp = gen.gen_corpus(self.seed, self.size)
        self.in_dir = os.path.join(self.work, "input")
        gen.write_parquet(self.inp.docs, os.path.join(self.in_dir, "documents.parquet"))
        self.tiny_dir = os.path.join(self.work, "input_tiny")
        gen.write_parquet(self.inp.docs.head(60), os.path.join(self.tiny_dir, "documents.parquet"))
        return {"docs": len(self.inp.docs), "planted_exact": len(self.inp.planted_exact),
                "planted_near": len(self.inp.planted_near)}

    def setup(self, spark):
        self.spark = spark
        self.passes = 0
        self._pass(self.tiny_dir, os.path.join(self.work, "warmup"))

    def _pass(self, in_dir: str, out: str) -> None:
        from pyspark.sql import functions as F

        from scraping_jobsdb_spark.operators import dedup, similarity, textops
        from scraping_jobsdb_spark.sources import tables

        tr = self.tr
        with tr.span("sources.tables"):
            docs = tables.load_table(self.spark, in_dir, "documents").select("doc_id", "text")
        with tr.span("operators.textops"):
            norm = docs.select("doc_id", textops.normalize_text("text").alias("text")).localCheckpoint()
        with tr.span("operators.dedup"):
            dd = dedup.dedup_exact(norm, ["text"], "doc_id").localCheckpoint()
        with tr.span("operators.similarity"):
            cand = similarity.minhash_candidate_pairs_portable(
                dd, "doc_id", "text", k=16, bands=4, shingle_n=3, max_bucket=64
            )
            joined = cand.join(
                dd.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta")), "id_a"
            ).join(dd.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb")), "id_b")
            pairs = joined.select(
                "id_a", "id_b",
                similarity.ngram_jaccard(joined, joined, None, "ta", "tb", n=3).alias("jaccard"),
            ).withColumn("verified", F.col("jaccard") >= 0.5).localCheckpoint()
        with tr.span("operators.textops"):
            cont = textops.fingerprint_containment_pairs(dd, 800).select("id_a", "id_b").localCheckpoint()
            flags = textops.gopher_quality_flags(dd).select("doc_id", "keep")
            drop = (
                pairs.filter("verified").select(F.col("id_b").alias("doc_id"))
                .union(cont.select(F.col("id_b").alias("doc_id")))
                .distinct()
                .withColumn("near_dup", F.lit(True))
            )
            curated = (
                dd.join(flags, "doc_id")
                .join(drop, "doc_id", "left")
                .fillna(False, ["near_dup"])
                .withColumn("tokens", textops.tokens("text"))
                .withColumn("n_tokens", textops.token_count("text"))
            )
            curated.write.mode("overwrite").parquet(os.path.join(out, "curated"))
            pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
            cont.write.mode("overwrite").parquet(os.path.join(out, "containment"))

    def op(self, i):
        import shutil

        prev = os.path.join(self.stored_dir(), f"pass{i - 1}")
        if os.path.isdir(prev):  # keep only the latest pass's output
            shutil.rmtree(prev)
        self.passes = i
        self._pass(self.in_dir, os.path.join(self.stored_dir(), f"pass{i}"))
        return "pass", len(self.inp.docs)

    def _last(self, part: str) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.stored_dir(), f"pass{self.passes}", part))

    def input_bytes(self):
        return self.inp.input_bytes

    def trace_extras(self):
        pairs = self._last("pairs")
        return {
            "operators.similarity.pairs_verified_per_candidate":
                float(pairs["verified"].sum()) / len(pairs) if len(pairs) else 0.0,
        }

    def check(self):
        import duckdb

        errs = []
        curated, pairs = self._last("curated"), self._last("pairs")
        norm = self.inp.docs[["doc_id", "text"]].copy()
        norm["text"] = norm["text"].map(_normalize)
        con = duckdb.connect()
        try:
            con.register("norm_input", norm)
            kept_sql = "WITH all_docs AS (SELECT doc_id, text FROM norm_input) " + _oracle_body(
                "doc_exact_dedup", "SELECT doc_id FROM ("
            )
            kept = {r[0] for r in con.execute(kept_sql).fetchall()}
            dd = norm[norm["doc_id"].isin(kept)]
            con.register("dd_input", dd)
            pair_sql = "WITH corpus AS (SELECT doc_id, text FROM dd_input), " + _oracle_body(
                "minhash_portable_neardup_pairs", "toks AS ("
            )
            want_pairs = {tuple(r) for r in con.execute(pair_sql).fetchall()}
        finally:
            con.close()
        got_kept = set(curated["doc_id"].tolist())
        if got_kept != kept:
            errs.append(f"exact dedup kept {len(got_kept)} docs, DuckDB replay {len(kept)} "
                        f"({len(got_kept ^ kept)} differ)")
        got_pairs = set(zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()))
        if got_pairs != want_pairs:
            errs.append(f"MinHash pairs: engine {len(got_pairs)}, DuckDB replay "
                        f"{len(want_pairs)} ({len(got_pairs ^ want_pairs)} differ)")
        rep = norm.groupby("text")["doc_id"].transform("min")
        rep = dict(zip(norm["doc_id"], rep))
        for a, b in self.inp.planted_exact:
            if rep[a] != rep[b] or rep[a] not in got_kept or max(a, b) in got_kept:
                errs.append(f"planted exact duplicate ({a}, {b}) not removed")
                break
        verified = set(zip(pairs.loc[pairs["verified"], "id_a"], pairs.loc[pairs["verified"], "id_b"]))
        want_near = {tuple(sorted((rep[a], rep[b]))) for a, b in self.inp.planted_near if rep[a] != rep[b]}
        if want_near:
            recall = len(want_near & verified) / len(want_near)
            if recall < 0.95:
                errs.append(f"planted near-duplicate recall {recall:.3f} < 0.95")
        return errs

    def corrupt(self):
        path = os.path.join(self.stored_dir(), f"pass{self.passes}", "pairs")
        df = self._last("pairs")
        for f in glob.glob(os.path.join(path, "*.parquet")):
            os.remove(f)
        df.iloc[1:].to_parquet(os.path.join(path, "part-corrupt.parquet"), index=False)


# ------------------------------------------------------ index_maintenance


def lsh_band_keys(text: str, k: int = 16, bands: int = 4, n: int = 3) -> list[tuple[int, str]]:
    """md5-portable MinHash band keys, re-derived from the documented
    construction (shingles of ``n`` tokens; permutation ``p`` reads the
    7-hex window ``p % 4`` of ``md5(s)`` or ``md5(s + ':' + p//4)``)."""
    toks = re.split(r"\s+", text.strip(" "))
    shingles = {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)}
    sig = [None] * k
    for s in shingles:
        digests = [hashlib.md5((s if b == 0 else f"{s}:{b}").encode()).hexdigest()
                   for b in range((k + 3) // 4)]
        for p in range(k):
            v = int(digests[p // 4][7 * (p % 4) : 7 * (p % 4) + 7], 16)
            if sig[p] is None or v < sig[p]:
                sig[p] = v
    rows = k // bands
    return [(b, ",".join(str(sig[b * rows + r]) for r in range(rows))) for b in range(bands)]


def winnow_fps(text: str, k: int = 8, w: int = 4, base: int = 257, mod: int = 1_000_000_007) -> set:
    """Winnowing fingerprints, re-derived from the documented construction
    (rolling k-gram hash over the whitespace-collapsed lowercase text; a
    gram is selected when it equals its trailing ``w``-window minimum)."""
    s = re.sub(r"\s+", " ", text.strip(" ").lower())
    codes = [ord(c) for c in s]
    powers = [pow(base, k - 1 - j, mod) for j in range(k)]
    hs = [sum(codes[i + j] * powers[j] for j in range(k)) % mod for i in range(len(codes) - k + 1)]
    return {h for i, h in enumerate(hs) if h == min(hs[max(0, i - w + 1) : i + 1])}


class IndexMaintenance(Workload):
    name = "index_maintenance"
    primary = "admit"
    n_kinds = 2
    LSH = {"k": 16, "bands": 4, "shingle_n": 3, "max_bucket": 64}
    FP = {"k": 8, "w": 4, "max_df": 50}
    THRESHOLD = 800

    def generate(self):
        self.inp = gen.gen_index(self.seed, self.size)
        d = os.path.join(self.work, "input")
        # every input arrives in one partition per core, as a production
        # stream's batches do; the probe queries are fixed ids
        self.base_dir = os.path.join(d, "base")
        gen.write_parquet_parts(self.inp.base, self.base_dir, self.cores)
        self.batch_dirs, self.probe_dirs, self.query_ids = [], [], []
        for i, b in enumerate(self.inp.batches):
            self.batch_dirs.append(os.path.join(d, f"batch{i}"))
            gen.write_parquet_parts(b, self.batch_dirs[-1], self.cores)
        for i, b in enumerate(self.inp.probes):
            self.probe_dirs.append(os.path.join(d, f"probe{i}"))
            gen.write_parquet_parts(b, self.probe_dirs[-1], self.cores)
            self.query_ids.append([int(x) for x in b["doc_id"][: self.size["probe_queries"]]])
        return {"base_docs": len(self.inp.base), "batch_docs": len(self.inp.batches[0]),
                "near_frac": self.size["near_frac"], "probe_docs": len(self.inp.probes[0]),
                "input_files_per_batch": self.cores, "dim": self.size["dim"]}

    def _queries(self, r: int):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.probe_dirs[r]).filter(
            F.col("doc_id").isin(self.query_ids[r])).select("doc_id", "embedding")

    def _topk(self, path: str, q):
        from scraping_jobsdb_spark.operators import pq

        return [tuple(x) for x in pq.ann_index_txn_topk_batch(
            self.spark, path, q, n_probe=self.size["n_probe"], k=self.size["k"],
            id_col="doc_id", vec_col="embedding").collect()]

    def setup(self, spark):
        from scraping_jobsdb_spark.operators import fpindex, lshindex, pq
        from scraping_jobsdb_spark.session import local_df

        self.spark = spark
        o = self.stored_dir()
        self.ann_path = os.path.join(o, "ann")
        base = spark.read.parquet(self.base_dir)
        self.cents = local_df(spark, self.inp.centroids, "cell int, centroid array<double>")
        tr = self.tr
        with tr.span("operators.lshindex"):
            self.lsh = lshindex.LshSignatureIndex.create(
                spark, os.path.join(o, "lsh"), base.select("doc_id", "text"),
                hasher="md5-portable", **self.LSH)
        with tr.span("operators.fpindex"):
            self.fp = fpindex.FingerprintIndex.create(
                spark, os.path.join(o, "fp"), base.select("doc_id", "text"), **self.FP)
        with tr.span("operators.pq"):
            pq.write_ann_index_txn(
                base.select("doc_id", "embedding"), self.ann_path, self.inp.codebook,
                n_centroids=len(self.inp.centroids), id_col="doc_id", vec_col="embedding",
                centroids=self.cents)
        self.admitted: list[tuple[int, dict, dict]] = []  # (batch, lsh verdicts, fp verdicts)
        self.probed: list[tuple[int, dict, dict, list, int]] = []
        self.batch = self.round = 0
        self.cand = {"lsh": [0, 0], "fp": [0, 0]}
        self._admit()  # warm-up: batch 0 and probe round 0 (untimed, checked)
        self._probe()

    def _admit(self) -> int:
        from pyspark.sql import functions as F

        from scraping_jobsdb_spark.operators import pq

        b = self.batch
        if b >= len(self.batch_dirs):
            raise RuntimeError("index_maintenance ran out of generated batches")
        docs = self.spark.read.parquet(self.batch_dirs[b])
        tr = self.tr
        with tr.span("operators.lshindex"):
            vl = {r[0]: (r[1], r[2]) for r in self.lsh.admit_stream_batch(
                docs.select("doc_id", "text"), epoch_id=b).select("doc_id", "n_cand", "kept").collect()}
        with tr.span("operators.fpindex"):
            vf = {r[0]: (r[1], r[2]) for r in self.fp.admit_stream_batch(
                docs.select("doc_id", "text"), epoch_id=b, threshold_milli=self.THRESHOLD
            ).select("doc_id", "n_dup_of", "kept").collect()}
        kept = sorted(i for i in vl if vl[i][1] and vf[i][1])
        with tr.span("operators.pq"):
            pq.ann_index_txn_add(
                self.spark, self.ann_path,
                docs.filter(F.col("doc_id").isin(kept)).select("doc_id", "embedding"),
                id_col="doc_id", vec_col="embedding")
        # maintenance after every batch; each index compacts only past its
        # file-count threshold
        with tr.span("operators.lshindex"):
            self.lsh.maintain(max_files=8)
        with tr.span("operators.fpindex"):
            self.fp.maintain(max_files=8)
        with tr.span("operators.pq"):
            pq.ann_index_txn_maintain(self.spark, self.ann_path, max_files=8)
        self.admitted.append((b, vl, vf))
        self.batch += 1
        self._count_cand(vl, vf)
        return len(vl)

    def _probe(self) -> None:
        r = self.round
        docs = self.spark.read.parquet(self.probe_dirs[r])
        tr = self.tr
        with tr.span("operators.lshindex"):
            vl = {x[0]: (x[1], x[2]) for x in self.lsh.probe(docs.select("doc_id", "text"))
                  .select("doc_id", "n_cand", "kept").collect()}
        with tr.span("operators.fpindex"):
            vf = {x[0]: (x[1], x[2]) for x in self.fp.probe(
                docs.select("doc_id", "text"), threshold_milli=self.THRESHOLD
            ).select("doc_id", "n_dup_of", "kept").collect()}
        with tr.span("operators.pq") as sp:
            top = self._topk(self.ann_path, self._queries(r))
        if sp is not None:
            tr.probe_spans.add(sp.sid)
        self.probed.append((r, vl, vf, top, self.batch))
        self.round += 1
        self._count_cand(vl, vf)

    def _count_cand(self, vl, vf):
        self.cand["lsh"][0] += sum(v[0] for v in vl.values())
        self.cand["lsh"][1] += len(vl)
        self.cand["fp"][0] += sum(v[0] for v in vf.values())
        self.cand["fp"][1] += len(vf)

    def op(self, i):
        if i % 2:
            return "admit", self._admit()
        self._probe()
        return "probe", 0

    def begin_timed(self):
        self.cand = {"lsh": [0, 0], "fp": [0, 0]}

    def input_bytes(self):
        used = [self.inp.base] + self.inp.batches[: self.batch]
        return sum(int(d["text"].str.len().sum()) + 8 * self.size["dim"] * len(d) for d in used)

    def trace_extras(self):
        def ratio(x):
            return x[0] / x[1] if x[1] else 0.0

        return {
            "operators.lshindex.cand_per_doc": ratio(self.cand["lsh"]),
            "operators.fpindex.cand_per_doc": ratio(self.cand["fp"]),
        }

    def check(self):
        errs = []
        docs = {}
        for d in [self.inp.base] + self.inp.batches[: self.batch] + self.inp.probes[: self.round]:
            docs.update(zip(d["doc_id"].astype(int), d["text"]))
        lsh = {i: lsh_band_keys(t, self.LSH["k"], self.LSH["bands"], self.LSH["shingle_n"])
               for i, t in docs.items()}
        fps = {i: winnow_fps(t, self.FP["k"], self.FP["w"]) for i, t in docs.items()}
        base = [int(i) for i in self.inp.base["doc_id"]]
        # what each index holds: LSH and fingerprint indexes admit their own
        # kept docs; the ANN index gets the docs both kept
        held = {"lsh": list(base), "fp": list(base), "ann": list(base)}
        ann_at: dict[int, list] = {0: list(base)}
        # replay in the order the engine saw them: admission b after b
        # admissions, a probe round after the admissions it followed
        events = [((a[0], 0), "admit", a) for a in self.admitted]
        events += [((p[4], -1), "probe", p) for p in self.probed]
        for _, kind, ev in sorted(events, key=lambda e: e[0]):
            ids = list(ev[1])
            wl = self._lsh_verdicts(held["lsh"], ids, lsh)
            wf = self._fp_verdicts(held["fp"], ids, fps)
            for name, got, want in (("LSH", ev[1], wl), ("fingerprint", ev[2], wf)):
                bad = [i for i in ids if tuple(got[i]) != want[i]]
                if bad:
                    errs.append(f"{kind} {ev[0]}: {len(bad)} {name} verdicts differ from the "
                                f"from-scratch replay (doc {bad[0]}: {got[bad[0]]} vs {want[bad[0]]})")
            if kind == "admit":
                held["lsh"] += [i for i in ids if wl[i][1]]
                held["fp"] += [i for i in ids if wf[i][1]]
                held["ann"] += [i for i in ids if wl[i][1] and wf[i][1]]
                ann_at[ev[0] + 1] = list(held["ann"])
        if not errs and self.probed:
            errs += self._check_ann(ann_at[self.probed[-1][4]])
        return errs

    def _lsh_verdicts(self, corpus, ids, lsh):
        """(n_cand, kept) per batch doc against ``corpus``; buckets holding
        more than ``max_bucket`` corpus docs are ignored on both sides."""
        members: dict = {}
        for c in corpus:
            for bk in lsh[c]:
                members.setdefault(bk, set()).add(c)
        idset = set(ids)
        out = {}
        for i in ids:
            cands = set()
            for bk in lsh[i]:
                m = members.get(bk, ())
                if len(m) <= self.LSH["max_bucket"]:
                    cands |= {c for c in m if c not in idset}
            out[i] = (len(cands), not cands)
        return out

    def _fp_verdicts(self, corpus, ids, fps):
        """(n_dup_of, kept) per batch doc: a corpus doc is a duplicate when
        it holds at least 80% of the doc's non-stop fingerprints; a stop
        fingerprint is one more than ``max_df`` corpus docs hold."""
        df: dict = {}
        for c in corpus:
            for h in fps[c]:
                df[h] = df.get(h, 0) + 1
        stop = {h for h, n in df.items() if n > self.FP["max_df"]}
        post: dict = {}
        for c in corpus:
            for h in fps[c] - stop:
                post.setdefault(h, []).append(c)
        idset = set(ids)
        out = {}
        for i in ids:
            mine = fps[i] - stop
            shared: dict = {}
            for h in mine:
                for c in post.get(h, ()):
                    if c not in idset:
                        shared[c] = shared.get(c, 0) + 1
            n = sum(1 for s in shared.values() if s * 1000 >= self.THRESHOLD * len(mine))
            out[i] = (n, n == 0)
        return out

    def _check_ann(self, corpus) -> list[str]:
        import shutil

        from scraping_jobsdb_spark.operators import pq

        r, _, _, got, _ = self.probed[-1]
        keep = set(corpus)
        frames = [self.inp.base] + self.inp.batches[: self.batch]
        union = pd.concat(frames)[lambda d: d["doc_id"].isin(keep)][["doc_id", "embedding"]]
        path = os.path.join(self.work, "ann_scratch")
        try:
            pq.write_ann_index_txn(
                self.spark.createDataFrame(union, "doc_id long, embedding array<double>"),
                path, self.inp.codebook, n_centroids=len(self.inp.centroids),
                id_col="doc_id", vec_col="embedding", centroids=self.cents)
            want = self._topk(path, self._queries(r))
        finally:
            shutil.rmtree(path, ignore_errors=True)
        if sorted(got) != sorted(want):
            return [f"ANN top-k of probe round {r} differs from a from-scratch index "
                    f"({len(set(got) ^ set(want))} rows)"]
        return []

    def corrupt(self):
        b, vl, vf = self.admitted[-1]
        i = next(iter(vl))
        vl[i] = (vl[i][0] + 1, not vl[i][1])
