"""Self-tests of the benchmark: seeded inputs are byte-identical, the PKCS
ciphertext matches Spark's aes_encrypt, every workload's check accepts a
real run and rejects a corrupted output, run.py refuses to run without
the program, and its shutdown leaves no process behind.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import gen  # noqa: E402
import workloads  # noqa: E402

SMALL_DAY = {**workloads.RUN_DAY_SIZE, "clients": 40, "pings": 400,
             "search_rows": 50, "history_days": 16}
SMALL_TABLES = {"customers": 200, "orders": 1000, "events": 1500,
                "users": 30, "documents": 120, "vectors": 200}


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for seed, name in ((7, "a"), (7, "b"), (8, "c")):
        d = tmp_path / name
        gen.gen_run_day(str(d / "day"), seed, SMALL_DAY)
        gen.gen_documents(str(d / "docs.parquet"), seed, 200,
                          shared_share=0.3, n_passages=10)
        gen.gen_tables(str(d / "tables"), seed, SMALL_TABLES)
    for sub in ("day", "tables"):
        assert _same_tree(tmp_path / "a" / sub, tmp_path / "b" / sub)
        assert not _same_tree(tmp_path / "a" / sub, tmp_path / "c" / sub)
    assert filecmp.cmp(tmp_path / "a" / "docs.parquet",
                       tmp_path / "b" / "docs.parquet", shallow=False)
    assert not filecmp.cmp(tmp_path / "a" / "docs.parquet",
                           tmp_path / "c" / "docs.parquet", shallow=False)


def test_reference_corpus_drops_shared_spans():
    shared = " ".join(["the"] * 5 + ["a"] * 5)
    docs = [(1, shared + " " + " ".join(["of"] * 10)),
            (2, shared + " " + " ".join(["to"] * 10)),
            (3, "x y")]                              # fails the Gopher length rule
    stages, rows = workloads.reference_corpus(docs)
    assert stages == {"docs_in": 3, "gopher_passed": 2,
                      "after_dedup_nonempty": 2, "exported": 2}
    text = {r[0]: r[1] for r in rows}
    assert text[1].startswith(shared) and not text[2].startswith(shared)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "run_day", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=180)
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_shutdown_leaves_no_process():
    code = (
        "import os, sys\n"
        f"sys.path[:0] = [{HERE!r}, {ROOT!r}]\n"
        "import procstat, run\n"
        "from cliqz_etl_spark.session import get_spark\n"
        "s = get_spark('perfbench-shutdown', master='local[1]',\n"
        "              extra_conf={'spark.ui.enabled': 'false'})\n"
        "s.sparkContext.parallelize([1, 2], 2).map(lambda x: x).collect()\n"
        "before = procstat.tree()\n"
        "run._shutdown(procstat)\n"
        "left = [p for p in before if p != os.getpid()\n"
        "        and (procstat._stat(str(p)) or ('', 'Z'))[1][0] != 'Z']\n"
        "print(len(before), left)\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-2000:]
    n, left = p.stdout.strip().splitlines()[-1].split(" ", 1)
    assert int(n) > 2  # this process, the JVM and the Python worker daemon
    assert left == "[]"


@pytest.fixture(scope="module")
def spark():
    from cliqz_etl_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]",
                  extra_conf={"spark.ui.enabled": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    import procstat
    import run
    run._shutdown(procstat)


def test_pkcs_ciphertext_matches_spark_aes_encrypt(spark):
    pt = "XXXXcliqz-17|20170101XXXX"
    row = spark.sql(
        f"SELECT base64(aes_encrypt('{pt}', '{gen.AES_KEY}', 'ECB', "
        "'DEFAULT')) AS ct").first()
    import base64
    assert row["ct"] == base64.b64encode(
        gen.pkcs_encrypt(pt.encode(), gen.AES_KEY.encode())).decode()


def test_run_day_check_rejects_corrupted_output(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(workloads, "RUN_DAY_SIZE", SMALL_DAY)
    wl = workloads.RunDay()
    wl.prepare(str(tmp_path / "in"), 3)
    out = wl.iterate(workloads.Context(spark, str(tmp_path)))
    assert wl.check(out) == []
    # one decrypted id altered on disk
    part = sorted(glob.glob(os.path.join(
        out["base"], "cliqz_testpilottest", "v1", "*", "*.parquet")))[0]
    t = pq.read_table(part)
    t = t.set_column(t.schema.get_field_index("cliqz_client_id"),
                     "cliqz_client_id", pa.array(["forged"] * t.num_rows))
    pq.write_table(t, part)
    assert any("decrypted" in p for p in wl.check(out))


def test_build_corpus_check_rejects_corrupted_output(spark, tmp_path,
                                                     monkeypatch):
    monkeypatch.setattr(workloads, "CORPUS_SIZE",
                        {**workloads.CORPUS_SIZE, "docs": 150})
    wl = workloads.BuildCorpus()
    wl.prepare(str(tmp_path / "in"), 3)
    out = wl.iterate(workloads.Context(spark, str(tmp_path)))
    assert wl.check(out) == []
    shard = sorted(glob.glob(os.path.join(out["out"], "part-*")))[0]
    with open(shard) as f:
        lines = f.read().splitlines()
    row = json.loads(lines[0])
    row["text"] += " extra"
    lines[0] = json.dumps(row)
    with open(shard, "w") as f:
        f.write("\n".join(lines) + "\n")
    assert wl.check(out) == ["exported rows differ from the reference"]


def test_query_mix_check_rejects_a_wrong_result(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "TABLES_SIZE", SMALL_TABLES)
    wl = workloads.QueryMix()
    wl.prepare(str(tmp_path / "in"), 3)
    out = wl.iterate(workloads.Context(spark, str(tmp_path)))
    assert wl.check(out) == []
    from cliqz_etl_spark.operators import cache
    from cliqz_etl_spark.queries import load_all

    df = load_all()["sessionize"].fn(spark, wl.tables)
    rows = [tuple(r) for r in df.collect()]
    cache.release_all()
    out["hashes"]["sessionize"] = workloads._hash_rows(df.columns, rows[1:])
    assert wl.check(out) == [
        "sessionize: result hash differs from its DuckDB oracle"]
