"""The three workloads. Each one

- ``prepare(inputs_dir, seed)``: writes its seeded inputs (once per seed)
  and computes the expected outputs without Spark;
- ``iterate(ctx)``: one closed-loop job through the program's public
  entry points (``cli.cmd_*``, the registry's ``q.fn``), returning what
  the check needs and ``out_bytes``;
- ``check(result)``: compares the job's output with the expectations,
  returning a list of problems (empty = correct).
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import re
import time

import numpy as np

import gen
from tests.oracle_harness import _canon, _hash_rows, duckdb_conn
from tracing import catalyst_phases, tree_size

# run_day is sized to the largest day the run budget allows in a slow
# phase of a shared host: 20,000 pings, where the per-ping work (JSON scan
# and re-scans, the Python AES fallback) is a visible share of a warm job
# (README.md). The cipher shares
# are an assumption: the reference producer zero-pads (PyCrypto), so most
# sessions are zero-padded; the rest are PKCS, malformed or NULL.
# The other two workloads are sized so one warm job takes a few seconds.
RUN_DAY_SIZE = {
    "clients": 1000, "pings": 20000, "other_day_share": 0.1,
    "cipher_shares": {"zero": 0.70, "pkcs": 0.18, "short": 0.03,
                      "garbage": 0.03, "null": 0.06},
    "search_rows": 2000, "history_days": 20, "ms_daily_prob": 0.5}
CORPUS_SIZE = {"docs": 1000, "shared_share": 0.3, "passages": 30,
               "shard_bytes": 64 << 10}
TABLES_SIZE = {"customers": 1500, "orders": 15000, "events": 10000,
               "users": 150, "documents": 400, "vectors": 500}
# One query per distinct plan shape of the headline set: star join with
# broadcast dims, window sessionization, mapInPandas, eager persist+count
# at plan-build time (MinHash LSH), a model collected at build time
# (IVF), and a streaming drain at build time.
QUERY_MIX = ["revenue_by_nation", "sessionize", "longest_streak",
             "dedup_minhash_lsh", "ann_ivf", "streaming_dedup"]


def canon_bytes(cols: list[str], rows) -> int:
    """Bytes of the canonical text ``_hash_rows`` hashes: the size of a
    result set, independent of row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sum(len("\x1f".join(_canon(r[i]) for i in order)
                   .encode("utf-8", "surrogateescape")) + 1 for r in rows)


def _quiet(fn, *args, **kwargs):
    """Call ``fn`` with the CLI's progress prints kept off our stdout,
    whose last line is the benchmark's result."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args, **kwargs)


def _cached(path: str, make):
    """JSON-cache ``make()`` at ``path`` (per-seed input bookkeeping); the
    value always comes back through JSON, so a fresh and a cached run see
    the same types."""
    if not os.path.exists(path):
        value = make()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


class Context:
    """What an iteration needs: the session, the tracer (None when
    untraced), the iteration number and a phase recorder."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.tracer = None
        self.iteration = -1
        self.phases: list[tuple[str, float, float]] = []
        self.catalyst: dict[int, dict[str, float]] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        full = f"{self.iteration}/{name}"
        self.spark.sparkContext.setJobGroup(f"pb:{full}", full)
        t0 = time.time()
        try:
            if self.tracer is not None:
                with self.tracer.span(f"bench.{name.split(':')[0]}"):
                    yield
            else:
                yield
        finally:
            self.phases.append((full, t0, time.time()))


# ---------------------------------------------------------------------------
# run_day
# ---------------------------------------------------------------------------

class RunDay:
    name = "run_day"

    def prepare(self, inputs_dir: str, seed: int) -> dict:
        self.inputs = inputs_dir
        meta = _cached(os.path.join(inputs_dir, "_expect.json"),
                       lambda: gen.gen_run_day(inputs_dir, seed, RUN_DAY_SIZE))
        self.expect = meta["expect"]
        return meta["properties"]

    def iterate(self, ctx: Context) -> dict:
        from cliqz_etl_spark import cli

        base = os.path.join(ctx.work_dir, "run_day_out")
        argv = ["run-day", "--day", gen.DAY, "--base", base,
                "--pings", os.path.join(self.inputs, "pings.jsonl"),
                "--search-csv", os.path.join(self.inputs, "search.csv"),
                "--main-summary", os.path.join(self.inputs, "main_summary.parquet"),
                "--aes-key-file", os.path.join(self.inputs, "key.txt")]
        with ctx.phase("job"):
            out = _quiet(cli.cmd_run_day, cli.build_parser().parse_args(argv),
                         spark=ctx.spark)
        return {"written": out["written"], "base": base,
                "out_bytes": tree_size(base)[0]}

    def check(self, result: dict) -> list[str]:
        import pyarrow.parquet as pq

        problems = []
        exp = self.expect["rows"]
        if result["written"] != exp:
            problems.append(f"reported counts {result['written']} != {exp}")
        tables = {}
        for name in exp:
            path = os.path.join(result["base"], f"cliqz_{name}", "v1")
            try:
                tables[name] = pq.read_table(path)
            except (OSError, ValueError) as e:
                problems.append(f"{name}: unreadable output ({e})")
                continue
            if tables[name].num_rows != exp[name]:
                problems.append(f"{name}: {tables[name].num_rows} rows on "
                                f"disk, expected {exp[name]}")
        if "testpilottest" in tables:
            t = tables["testpilottest"]
            got = sorted(zip(t.column("client_id").to_pylist(),
                             t.column("cliqz_client_id").to_pylist()),
                         key=lambda r: (r[0], r[1] or ""))
            if [list(r) for r in got] != self.expect["decrypted"]:
                problems.append("testpilottest: decrypted cliqz_client_id "
                                "set differs from the generator's")
        if "profile_daily" in tables:
            n = sum(tables["profile_daily"].column("txp_events").to_pylist())
            if n != self.expect["txp_events"]:
                problems.append(f"profile_daily: txp_events total {n}, "
                                f"expected {self.expect['txp_events']}")
        return problems


# ---------------------------------------------------------------------------
# build_corpus
# ---------------------------------------------------------------------------

STOP5 = ("the", "a", "of", "and", "to")
SPAN_K = 10


def reference_corpus(docs: list[tuple[int, str]], min_ppm: int = 0):
    """Plain-Python replica of build-corpus (Gopher rules -> C4 span dedup
    -> unigram ppm score -> cut): (stage counts, exported rows as
    (doc_id, text, n_tok, freq_ppm))."""
    passed = []
    for doc_id, text in docs:
        if text is None:
            continue
        t = text.strip(" ")
        tk = re.split(r"\s+", t) if t else []
        n = len(tk)
        if not (10 <= n <= 10_000
                and 2 * n <= sum(map(len, tk)) <= 12 * n
                and 5 * sum(bool(re.search("[A-Za-z]", w)) for w in tk) >= 4 * n
                and 10 * sum(not re.search("[A-Za-z0-9]", w) for w in tk) <= n
                and sum(w in tk for w in STOP5) >= 2):
            continue
        passed.append((doc_id, tk))
    chunks, winner = {}, {}
    for doc_id, tk in passed:
        cs = [" ".join(tk[i:i + SPAN_K]) for i in range(0, len(tk), SPAN_K)]
        chunks[doc_id] = cs
        for i, c in enumerate(cs):
            key = (doc_id << 20) + i
            if key < winner.get(c, key + 1):
                winner[c] = key
    kept = {}
    for doc_id, cs in chunks.items():
        k = [c for i, c in enumerate(cs) if winner[c] == (doc_id << 20) + i]
        kept[doc_id] = " ".join(k)
    nonempty = {d: t for d, t in kept.items() if t.strip(" ")}
    counts, total = {}, 0
    toks = {d: re.split(r"\s+", t.strip(" ")) for d, t in nonempty.items()}
    for tk in toks.values():
        for w in tk:
            counts[w] = counts.get(w, 0) + 1
        total += len(tk)
    rows = []
    for d, tk in toks.items():
        ppm = (1_000_000 * sum(counts[w] for w in tk)) // (len(tk) * total)
        if ppm >= min_ppm:
            rows.append((d, nonempty[d], len(tk), ppm))
    stages = {"docs_in": len(docs), "gopher_passed": len(passed),
              "after_dedup_nonempty": len(nonempty), "exported": len(rows)}
    return stages, rows


EXPORT_COLS = ["doc_id", "text", "n_tok", "freq_ppm"]


def read_jsonl_export(out_dir: str) -> list[tuple]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                rows.append(tuple(r.get(c) for c in EXPORT_COLS))
    return rows


class BuildCorpus:
    name = "build_corpus"

    def prepare(self, inputs_dir: str, seed: int) -> dict:
        import pyarrow.parquet as pq

        self.docs = os.path.join(inputs_dir, "documents.parquet")

        def make():
            props = gen.gen_documents(
                self.docs, seed, CORPUS_SIZE["docs"],
                shared_share=CORPUS_SIZE["shared_share"],
                n_passages=CORPUS_SIZE["passages"])
            t = pq.read_table(self.docs, columns=["doc_id", "text"])
            stages, rows = reference_corpus(
                list(zip(t.column("doc_id").to_pylist(),
                         t.column("text").to_pylist())))
            return {"properties": props, "stages": stages,
                    "hash": _hash_rows(EXPORT_COLS, rows)}
        meta = _cached(os.path.join(inputs_dir, "_expect.json"), make)
        self.expect = meta
        return meta["properties"]

    def iterate(self, ctx: Context) -> dict:
        from cliqz_etl_spark import cli

        out = os.path.join(ctx.work_dir, "corpus_out")
        argv = ["build-corpus", "--docs", self.docs, "--out", out,
                "--shard-bytes", str(CORPUS_SIZE["shard_bytes"])]
        with ctx.phase("job"):
            counts = _quiet(cli.cmd_build_corpus,
                            cli.build_parser().parse_args(argv), spark=ctx.spark)
        return {"counts": counts, "out": out, "out_bytes": tree_size(out)[0]}

    def check(self, result: dict) -> list[str]:
        problems = []
        counts = dict(result["counts"])
        shards = counts.pop("shards", None)
        if counts != self.expect["stages"]:
            problems.append(f"stage counts {counts} != {self.expect['stages']}")
        files = glob.glob(os.path.join(result["out"], "part-*"))
        if shards != len(files):
            problems.append(f"{len(files)} shard files, reported {shards}")
        got = _hash_rows(EXPORT_COLS, read_jsonl_export(result["out"]))
        if got != self.expect["hash"]:
            problems.append("exported rows differ from the reference")
        return problems


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def oracle_hashes(tables_dir: str, names: list[str]) -> dict[str, str]:
    """Each query's registry oracle SQL run in DuckDB over the same
    parquet files, hashed like the Spark result (the repository's own
    oracle harness)."""
    from cliqz_etl_spark.queries import load_all

    reg = load_all()
    con = duckdb_conn(tables_dir)
    out = {}
    for n in names:
        res = con.execute(reg[n].oracle)
        out[n] = _hash_rows([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


class QueryMix:
    name = "query_mix"

    def prepare(self, inputs_dir: str, seed: int) -> dict:
        self.tables = inputs_dir
        meta = _cached(os.path.join(inputs_dir, "_expect.json"), lambda: {
            "properties": gen.gen_tables(inputs_dir, seed, TABLES_SIZE),
            "oracle": oracle_hashes(inputs_dir, QUERY_MIX)})
        self.expect = meta["oracle"]
        self.order = [QUERY_MIX[i] for i in
                      np.random.default_rng(seed).permutation(len(QUERY_MIX))]
        return {**meta["properties"], "order": self.order}

    def iterate(self, ctx: Context) -> dict:
        from cliqz_etl_spark.operators import cache
        from cliqz_etl_spark.queries import load_all

        reg = load_all()
        hashes, per_query, out_bytes = {}, {}, 0
        for n in self.order:
            t0 = time.perf_counter()
            with ctx.phase(f"build:{n}"):
                df = reg[n].fn(ctx.spark, self.tables)
            t1 = time.perf_counter()
            with ctx.phase(f"collect:{n}"):
                rows = df.collect()
            t2 = time.perf_counter()
            if ctx.tracer is not None:
                ph = catalyst_phases(df)
                acc = ctx.catalyst.setdefault(ctx.iteration, {})
                for k, v in ph.items():
                    acc[k] = acc.get(k, 0.0) + v
            with ctx.phase(f"release:{n}"):
                cache.release_all()
            t3 = time.perf_counter()
            rows = [tuple(r) for r in rows]
            hashes[n] = _hash_rows(df.columns, rows)
            out_bytes += canon_bytes(df.columns, rows)
            per_query[n] = {"build_s": t1 - t0, "collect_s": t2 - t1,
                            "s": t3 - t0}
        return {"hashes": hashes, "per_query": per_query,
                "out_bytes": out_bytes}

    def check(self, result: dict) -> list[str]:
        return [f"{n}: result hash differs from its DuckDB oracle"
                for n in QUERY_MIX if result["hashes"].get(n) != self.expect[n]]


WORKLOADS = {w.name: w for w in (RunDay, BuildCorpus, QueryMix)}
