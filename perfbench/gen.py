"""Seeded input generators for the three workloads.

Everything here is a pure function of ``seed`` and a size dict: the same
seed writes byte-identical files (numpy PCG64 streams, fixed-order JSON /
CSV text, pyarrow parquet with a fixed writer configuration). The program
under test only ever sees the files; the expected outputs the checks use
come from the generator's own bookkeeping (the ``expect`` part of what it
returns), never from the code being timed.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = "20170101"
AES_KEY = "0123456789abcdef"
ADDON = "testpilot@cliqz.com"
TP_TEST = "@testpilot-addon"
TPT_EVENTS = ["cliqzEnabled", "cliqzDisabled", "cliqzInstalled",
              "cliqzUninstalled"]
SEARCH_HEADER = [
    "udid", "start_time", "selection_type", "entry_point",
    "final_result_list_backend_result_count",
    "final_result_list_contains_history", "selection_query_length",
    "selection_class", "selection_element", "selection_index",
    "total_signal_count", "selection_time", "final_result_list_show_time",
    "selection_source"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per artifact, so resizing one input never
    # shifts the random numbers another input sees
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd", use_dictionary=True,
                   write_statistics=True)


def _uuid(rng: np.random.Generator) -> str:
    h = bytes(rng.integers(0, 256, 16, dtype=np.uint8)).hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _day(offset: int) -> str:
    d = dt.date(2017, 1, 1) + dt.timedelta(days=offset)
    return d.strftime("%Y%m%d")


# ---------------------------------------------------------------------------
# run_day: pings JSONL + search CSV + main_summary parquet + key file
# ---------------------------------------------------------------------------

def pkcs_encrypt(data: bytes, key: bytes) -> bytes:
    """AES-ECB with PKCS#7 padding: the bytes Spark's
    ``aes_encrypt(pt, key, 'ECB', 'DEFAULT')`` produces (ECB has no IV,
    so the output is deterministic; the self-tests pin the equality)."""
    from cliqz_etl_spark.functions.aes_py import encrypt_block

    pad = 16 - len(data) % 16
    data += bytes([pad]) * pad
    return b"".join(encrypt_block(data[i:i + 16], key)
                    for i in range(0, len(data), 16))


def _ciphertext(kind: str, cliqz_id: str, day: str, rng) -> str | None:
    from cliqz_etl_spark.functions.aes_py import encrypt_ecb_zero_pad

    plain = f"XXXX{cliqz_id}|{day}XXXX".encode()
    key = AES_KEY.encode()
    if kind == "zero":
        return base64.b64encode(encrypt_ecb_zero_pad(plain, key)).decode()
    if kind == "pkcs":
        return base64.b64encode(pkcs_encrypt(plain, key)).decode()
    if kind == "short":
        # 24 bytes: not a whole number of AES blocks on either path
        return base64.b64encode(
            bytes(rng.integers(0, 256, 24, dtype=np.uint8))).decode()
    if kind == "garbage":
        return "!!not-base64!!"
    return None


def _ping(client, doc_type, day, *, test, events=(), session=None,
          tpt_event=None, seq=0):
    # field layout mirrors PING_SCHEMA (pipelines/testpilot.py)
    return {
        "clientId": client,
        "creationDate": f"{day[:4]}-{day[4:6]}-{day[6:]}T00:00:{seq % 60:02d}Z",
        "meta": {"geoCountry": "DE", "normalizedChannel": "release",
                 "os": "Linux", "submissionDate": day, "docType": doc_type},
        "environment": {"settings": {"locale": "de-DE",
                                     "telemetryEnabled": True},
                        "addons": {"activeAddons": {
                            ADDON: {"version": "2.1"}}}},
        "payload": {"test": test, "events": list(events),
                    "payload": {"cliqzSession": session,
                                "sessionId": f"s{seq}",
                                "subsessionId": f"ss{seq}",
                                "event": tpt_event,
                                "contentSearch": None}},
    }


def gen_run_day(out_dir: str, seed: int, size: dict) -> dict:
    """Write one day of reference-shaped input; return the properties and
    the expected outputs (row counts per dataset, decrypted ids)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "run_day")
    n_clients, n_pings = size["clients"], size["pings"]
    shares = size["cipher_shares"]          # kind -> probability
    other_day = size["other_day_share"]
    clients = [_uuid(rng) for _ in range(n_clients)]
    cliqz_ids = [f"cliqz-{rng.integers(1, 10**9)}" for _ in range(n_clients)]

    kinds = list(shares)
    probs = np.array([shares[k] for k in kinds], dtype=float)
    probs /= probs.sum()
    ct_cache: dict[tuple[int, str, str], str | None] = {}

    pings, tp_rows, tpt_rows = [], {}, []
    cipher_counts = dict.fromkeys(kinds, 0)
    n_other = 0
    for seq in range(n_pings):
        c = int(rng.integers(0, n_clients))
        day = DAY
        if rng.random() < other_day:
            day = _day(int(rng.choice([-3, -1, 1])))
            n_other += 1
        if rng.random() < 0.5:
            test = TP_TEST if rng.random() < 0.9 else "@other-addon"
            r = rng.random()
            events = ([] if r < 0.05 else
                      [{"event": "enabled" if rng.random() < 0.7 else "disabled",
                        "object": ADDON if r < 0.85 else "other@addon"}])
            pings.append(_ping(clients[c], "testpilot", day, test=test,
                               events=events, seq=seq))
            if (day == DAY and test == TP_TEST and events
                    and events[0]["object"] == ADDON):
                tp_rows[c] = tp_rows.get(c, 0) + 1
        else:
            test = ADDON if rng.random() < 0.95 else "other@addon"
            kind = kinds[int(rng.choice(len(kinds), p=probs))]
            key = (c, kind, day)
            if key not in ct_cache:
                ct_cache[key] = _ciphertext(kind, cliqz_ids[c], day, rng)
            r = rng.random()
            event = None if r < 0.1 else TPT_EVENTS[int(r * 40) % 4]
            pings.append(_ping(clients[c], "testpilottest", day, test=test,
                               session=ct_cache[key], tpt_event=event,
                               seq=seq))
            if day == DAY and test == ADDON and event is not None:
                cipher_counts[kind] += 1
                tpt_rows.append(
                    (clients[c],
                     cliqz_ids[c] if kind in ("zero", "pkcs") else None))

    with open(os.path.join(out_dir, "pings.jsonl"), "w") as f:
        for p in pings:
            f.write(json.dumps(p, separators=(",", ":")) + "\n")

    # search CSV: a few unparseable numeric cells exercise the try-casts
    n_search = size["search_rows"]
    sel = ["query", "enter", "click", "autocomplete", "other"]
    with open(os.path.join(out_dir, "search.csv"), "w") as f:
        f.write(",".join(SEARCH_HEADER) + "\n")
        for i in range(n_search):
            bad = rng.random() < 0.05
            cells = [f"u{int(rng.integers(0, n_clients))}|x{i}", f"t{i}",
                     sel[int(rng.integers(0, 5))], "url",
                     "abc" if bad else str(int(rng.integers(0, 20))),
                     "true" if rng.random() < 0.5 else "false",
                     str(int(rng.integers(1, 40))), "cls", "el",
                     str(int(rng.integers(0, 10))),
                     str(int(rng.integers(0, 50))),
                     str(int(rng.integers(0, 5000))),
                     str(int(rng.integers(0, 500))), "src"]
            f.write(",".join(cells) + "\n")

    # main_summary: ~two weeks of history per client plus older rows, and a
    # handful of non-UUID client ids the rollup must drop
    ms_cols: dict[str, list] = {k: [] for k in (
        "client_id", "submission_date", "normalized_channel", "os",
        "is_default_browser", "subsession_length", "default_search_engine",
        "search_counts", "has_addon")}
    hist = size["history_days"]
    ms_keys = set()
    ms_clients = clients + [f"not-a-uuid-{i}" for i in range(n_clients // 20)]
    for cid in ms_clients:
        for off in range(-hist, 1):
            if rng.random() >= size["ms_daily_prob"]:
                continue
            for _ in range(int(rng.integers(1, 3))):
                ms_cols["client_id"].append(cid)
                ms_cols["submission_date"].append(_day(off))
                ms_cols["normalized_channel"].append("release")
                ms_cols["os"].append("Linux" if rng.random() < 0.6 else "Windows_NT")
                ms_cols["is_default_browser"].append(
                    None if rng.random() < 0.1 else bool(rng.random() < 0.5))
                ms_cols["subsession_length"].append(int(rng.integers(0, 86400)))
                ms_cols["default_search_engine"].append(
                    ["cliqz", "google", "bing"][int(rng.integers(0, 3))])
                ms_cols["search_counts"].append([
                    {"engine": ["cliqz", "google"][int(rng.integers(0, 2))],
                     "source": ["urlbar", "searchbar"][int(rng.integers(0, 2))],
                     "count": int(rng.integers(0, 10))}
                    for _ in range(int(rng.integers(0, 3)))])
                ms_cols["has_addon"].append(bool(rng.random() < 0.5))
            ms_keys.add((cid, _day(off)))
    ms_schema = pa.schema([
        ("client_id", pa.string()), ("submission_date", pa.string()),
        ("normalized_channel", pa.string()), ("os", pa.string()),
        ("is_default_browser", pa.bool_()), ("subsession_length", pa.int64()),
        ("default_search_engine", pa.string()),
        ("search_counts", pa.list_(pa.struct([
            ("engine", pa.string()), ("source", pa.string()),
            ("count", pa.int64())]))),
        ("has_addon", pa.bool_())])
    _write_parquet(pa.table(ms_cols, schema=ms_schema),
                   os.path.join(out_dir, "main_summary.parquet"))
    with open(os.path.join(out_dir, "key.txt"), "w") as f:
        f.write(AES_KEY + "\n")

    # expected profile_daily rows: txp keys (clients in both extracts, on
    # DAY) union main_summary keys of those clients within the 14-day
    # recency window (profile_daily.filter_recent_ms)
    tpt_by_client: dict[str, int] = {}
    for cid, _ in tpt_rows:
        tpt_by_client[cid] = tpt_by_client.get(cid, 0) + 1
    both = {clients[c] for c in tp_rows} & set(tpt_by_client)
    lo = _day(-14)
    keys = {(cid, DAY) for cid in both}
    keys |= {(cid, d) for cid, d in ms_keys if cid in both and d >= lo}
    txp_events = sum(tp_rows[c] * tpt_by_client[clients[c]]
                     for c in tp_rows if clients[c] in both)
    return {
        "properties": {
            "pings": n_pings, "clients": n_clients,
            "other_day_share": round(n_other / n_pings, 4),
            "cipher_kinds_in_output": cipher_counts,
            "main_summary_rows": len(ms_cols["client_id"]),
            "search_rows": n_search},
        "expect": {
            "rows": {"testpilot": sum(tp_rows.values()),
                     "testpilottest": len(tpt_rows),
                     "search": n_search,
                     "profile_daily": len(keys)},
            "txp_events": txp_events,
            "decrypted": sorted(tpt_rows, key=lambda r: (r[0], r[1] or ""))},
    }


# ---------------------------------------------------------------------------
# build_corpus: documents parquet with planted shared spans
# ---------------------------------------------------------------------------

WORDS = ["the", "a", "of", "and", "to"] + [
    f"{a}{b}" for a in ("spark", "join", "scan", "hash", "sort", "merge",
                        "query", "table", "row", "key", "value", "batch")
    for b in ("", "er", "ing", "ed", "s")]


def _doc_tokens(rng, lo: int, hi: int) -> list[str]:
    n = int(rng.integers(lo, hi))
    # Zipf-ish word choice so unigram scores spread
    idx = np.minimum(rng.zipf(1.3, n) - 1, len(WORDS) - 1)
    return [WORDS[i] for i in idx]


def gen_documents(path: str, seed: int, n_docs: int, *, shared_share: float,
                  n_passages: int, lo: int = 10, hi: int = 90) -> dict:
    """Documents parquet (doc_id, text, lang, source, n_chars). A
    ``shared_share`` of docs gets a passage from a common pool spliced in
    at a 10-token boundary, so span dedup (SPAN_K = 10) finds whole shared
    chunks; ~8% of docs are short, symbol-heavy or stopword-free so the
    Gopher filter has work to do."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = _rng(seed, f"documents{n_docs}")
    passages = [_doc_tokens(rng, 20, 41) for _ in range(n_passages)]
    texts, langs, sources = [], [], []
    n_shared = n_bad = 0
    for i in range(n_docs):
        tk = _doc_tokens(rng, lo, hi)
        if rng.random() < shared_share:
            at = 10 * int(rng.integers(0, len(tk) // 10 + 1))
            tk = tk[:at] + passages[int(rng.integers(0, n_passages))] + tk[at:]
            n_shared += 1
        r = rng.random()
        if r < 0.03:
            tk = tk[:5]
        elif r < 0.06:
            tk = [("#" if j % 2 else w) for j, w in enumerate(tk)]
        elif r < 0.08:
            tk = [w for w in tk if w not in ("the", "a", "of", "and", "to")]
        n_bad += r < 0.08
        texts.append(" ".join(tk))
        langs.append(["en", "en", "de", "fr", "es"][i % 5])
        sources.append(f"src{int(rng.integers(0, 20))}")
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    _write_parquet(table, path)
    return {"docs": n_docs, "shared_span_share": round(n_shared / n_docs, 4),
            "passages": n_passages, "gopher_bait_share": round(n_bad / n_docs, 4)}


# ---------------------------------------------------------------------------
# query_mix: the registry's table family (tables.TABLES), scaled down
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts_us(rng, n: int, start: dt.datetime, span_s: int) -> np.ndarray:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return base + rng.integers(0, span_s * 1_000_000, n)


def gen_tables(out_dir: str, seed: int, size: dict) -> dict:
    """The star schema + events + documents + embeddings, with the value
    domains the registry queries filter on (region 'ASIA', segment
    'BUILDING', 1995-2001 order dates, ...)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "tables")
    j = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions}), j("region"))
    _write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        j("nation"))
    n_cust, n_ord = size["customers"], size["orders"]
    _write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        j("customer"))
    o_date = _ts_us(rng, n_ord, dt.datetime(1995, 1, 1), 6 * 365 * 86400)
    o_date -= o_date % (86400 * 1_000_000)
    _write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        j("orders"))
    per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(l_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    ship = o_date[l_order] + rng.integers(1, 120, n_li) * 86400 * 1_000_000
    qty = rng.integers(1, 51, n_li).astype(float)
    _write_parquet(pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}), j("lineitem"))
    n_ev, n_users = size["events"], size["users"]
    ts = np.sort(_ts_us(rng, n_ev, dt.datetime(2024, 1, 1), 30 * 86400))
    _write_parquet(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        j("events"))
    docs = gen_documents(j("documents"), seed, size["documents"],
                         shared_share=0.2, n_passages=40)
    n_vec = size["vectors"]
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write_parquet(pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_vec + 1, 64, dtype=np.int32)),
            pa.array(v.ravel())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())}),
        j("embeddings"))
    return {"customers": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev, "users": n_users, "vectors": n_vec,
            "documents": docs}
