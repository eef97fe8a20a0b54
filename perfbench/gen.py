"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, job)``: the same pair always
writes byte-identical files, so outputs are cached on disk under
``<cache>/<workload>-<seed>-<job>-<version>`` and reused by later runs
with that seed; ``version`` digests this file, so editing a generator never
serves stale inputs. Each returns a manifest (plain JSON) with the measured properties the
run reports: input bytes and files, re-delivery / edge-row / planted-duplicate
shares.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = hashlib.md5(Path(__file__).read_bytes()).hexdigest()[:8]
# Generator index of the inputs of each run's untimed warm-up job; timed jobs
# count up from 0 and never reach it.
WARM_UP = 99

# ---------------------------------------------------------------------------
# etl_deliveries: transaction JSONL shaped like the reference generator
# (100-record files, ~200 customers per 1k records, 50 merchants). One
# delivery per day, each holding the trailing three days (late arrivals), so
# silver history grows by about one day partition per delivery.

ETL_RECORDS = 1000  # records per delivery
ETL_DELIVERIES = 3  # deliveries per job
# The warm-up job needs only the first-delivery and the re-delivery paths.
ETL_WARM_UP_DELIVERIES = 2
ETL_WINDOW_DAYS = 3
ETL_FILE_RECORDS = 100
ETL_REDELIVERY_SHARE = 0.10  # of each delivery after the first
ETL_EDGE_SHARE = 0.05
_ANCHOR = dt.datetime(2024, 3, 1, 0, 0, 0)


def _txn(rng: random.Random, txn_id: str, n_customers: int, day: int) -> dict:
    when = _ANCHOR + dt.timedelta(
        days=day, seconds=-rng.randrange(ETL_WINDOW_DAYS * 86400)
    )
    return {
        "transaction_id": txn_id,
        "customer_id": f"cust_{rng.randrange(n_customers):06d}",
        "amount": round(rng.uniform(10, 5000), 2),
        "transaction_date": when.strftime("%Y-%m-%d %H:%M:%S"),
        "transaction_type": rng.choice(["purchase", "refund", "adjustment"]),
        "merchant_id": f"merchant_{rng.randrange(50):03d}",
        "payment_method": rng.choice(
            ["credit_card", "debit_card", "paypal", "bank_transfer"]
        ),
        "currency": "USD",
        "status": rng.choice(["completed", "pending", "failed"]),
        "category": rng.choice(["electronics", "clothing", "food", "books", "home"]),
    }


def _edge_row(rng: random.Random, base: dict, txn_id: str, kind: int) -> dict:
    """One invalid row: the four kinds the bronze->silver gate must reject or
    collapse. Kind 3 reuses ``base``'s id with a later timestamp, so the
    deterministic in-batch dedup keeps ``base``."""
    row = dict(base, transaction_id=txn_id)
    if kind == 0:  # null in one of the required keys
        key = rng.choice(["transaction_id", "customer_id", "amount", "transaction_date"])
        row[key] = None
    elif kind == 1:  # amount <= 0
        row["amount"] = rng.choice([0, -5.0, -round(rng.uniform(1, 500), 2)])
    elif kind == 2:  # unparseable timestamp
        row["transaction_date"] = rng.choice(["not-a-date", "2024-13-45 99:99:99", ""])
    else:  # in-batch duplicate id
        later = dt.datetime.strptime(base["transaction_date"], "%Y-%m-%d %H:%M:%S")
        row["transaction_id"] = base["transaction_id"]
        row["transaction_date"] = (later + dt.timedelta(hours=1)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        row["amount"] = round(rng.uniform(10, 5000), 2)
    return row


def etl_deliveries(cache: Path, seed: int, job: int) -> dict:
    out = cache / f"etl-{seed}-{job}-{VERSION}"
    manifest = _cached(out)
    if manifest:
        return manifest
    rng = random.Random(f"etl:{seed}:{job}")
    n_customers = ETL_RECORDS * ETL_DELIVERIES * 200 // 1000
    history: list[dict] = []
    next_id = 0
    deliveries = []
    counts = {"records": 0, "redelivered": 0, "edge": 0}
    for d in range(ETL_WARM_UP_DELIVERIES if job == WARM_UP else ETL_DELIVERIES):
        n_redeliver = int(ETL_RECORDS * ETL_REDELIVERY_SHARE) if d else 0
        n_edge = int(ETL_RECORDS * ETL_EDGE_SHARE)
        rows = [dict(r) for r in rng.sample(history, n_redeliver)]
        fresh = []
        for _ in range(ETL_RECORDS - n_redeliver - n_edge):
            fresh.append(
                _txn(rng, f"txn_{seed % 10000:04d}{job:02d}{next_id:07d}", n_customers, d)
            )
            next_id += 1
        for i in range(n_edge):
            rows.append(
                _edge_row(rng, rng.choice(fresh), f"edge_{job:02d}{next_id:07d}", i % 4)
            )
            next_id += 1
        rows.extend(fresh)
        rng.shuffle(rows)
        history.extend(fresh)
        ddir = out / "tmp" / f"delivery_{d:02d}"
        ddir.mkdir(parents=True)
        for f in range(0, len(rows), ETL_FILE_RECORDS):
            (ddir / f"batch_{f // ETL_FILE_RECORDS:05d}.json").write_text(
                "\n".join(json.dumps(r) for r in rows[f : f + ETL_FILE_RECORDS]) + "\n"
            )
        deliveries.append(
            {"path": f"delivery_{d:02d}", "records": len(rows), "redelivered": n_redeliver}
        )
        counts["records"] += len(rows)
        counts["redelivered"] += n_redeliver
        counts["edge"] += n_edge
    return _commit(
        out,
        {
            "deliveries": deliveries,
            "records": counts["records"],
            "redelivery_share": counts["redelivered"] / counts["records"],
            "edge_share": counts["edge"] / counts["records"],
        },
    )


# ---------------------------------------------------------------------------
# query_mix: the TPC-H-ish star schema + events the registry queries read,
# with the value domains of the read-only testdata tables (sf0.01 shape).

QM_SCALE = 0.01


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(cache: Path, seed: int, job: int) -> dict:
    out = cache / f"qm-{seed}-{job}-{VERSION}"
    manifest = _cached(out)
    if manifest:
        return manifest
    rng = np.random.default_rng([seed, job, 7])
    n_cust = int(150_000 * QM_SCALE)
    n_supp = int(10_000 * QM_SCALE)
    n_part = int(200_000 * QM_SCALE)
    n_ord = int(1_500_000 * QM_SCALE)
    n_line = int(6_000_000 * QM_SCALE)
    n_ev = int(1_000_000 * QM_SCALE)
    words = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    nouns = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "nut"]
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
            ).tolist(),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(words, n_part), rng.choice(nouns, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(
                _ts(rng, n_ord, "1995-01-01", 2404).astype("datetime64[ms]")
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ).tolist(),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n_line).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
            "l_shipdate": pa.array(
                _ts(rng, n_line, "1995-01-02", 2498).astype("datetime64[ms]")
            ),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "ns")
                + np.sort(rng.integers(0, 30 * 86400 * 10**9, n_ev)).astype(
                    "timedelta64[ns]"
                )
            ),
            "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
            "event_type": rng.choice(
                ["signup", "error", "click", "view", "purchase"], n_ev
            ).tolist(),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }
    docs, vecs, _, _ = _corpus_rows(random.Random(f"qm:{seed}:{job}"), rng, range(500), set(), [])
    tables["documents"] = docs
    tables["embeddings"] = vecs
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    rows = 0
    for name, cols in tables.items():
        t = pa.table(cols)
        rows += t.num_rows
        pq.write_table(t, tmp / f"{name}.parquet")
    return _commit(out, {"tables": sorted(tables), "rows": rows, "scale": QM_SCALE})


# ---------------------------------------------------------------------------
# corpus_curation: documents + embeddings with planted near-duplicates,
# delivered in batches (JSONL documents, parquet vectors).

CORPUS_BATCHES = 1
CORPUS_BATCH_DOCS = 200
CORPUS_DUP_SHARE = 0.10
_DIM = 64
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _vocab() -> list[str]:
    rng = random.Random("vocab")
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = {"the", "a", "and", "of", "to", "in", "is", "spark", "data", "query"}
    while len(words) < 600:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(3, 9))))
    return sorted(words)


_VOCAB = _vocab()


def _corpus_rows(
    rng: random.Random, nrng: np.random.Generator, ids: range, plant: set[int],
    pool: list,
) -> tuple[dict, dict, list[int], list[int]]:
    """Documents and vectors for ``ids``. The ids in ``plant`` are planted
    duplicates of an earlier row (this call's or ``pool``'s, which collects
    ``(id, words, raw vector)``): an exact copy or the last word replaced
    (word-5-shingle Jaccard (n-1)/(n+1) >= 0.94), and the vector plus tiny
    noise. The original always has the smaller id, so min-id survivorship
    keeps it. Returns (documents, vectors, planted ids, exact-copy ids)."""
    texts, vectors, planted, exact = [], [], [], []
    for doc_id in ids:
        if pool and doc_id in plant:
            _, words, raw = rng.choice(pool)
            words = list(words)
            if rng.random() < 0.7:
                words[-1] = rng.choice([w for w in _VOCAB if w != words[-1]])
            else:
                exact.append(doc_id)
            raw = raw + nrng.normal(0, 0.01, _DIM)
            planted.append(doc_id)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randrange(40, 90))]
            raw = nrng.normal(0, 1, _DIM)
        pool.append((doc_id, words, raw))
        texts.append(" ".join(words))
        vectors.append((raw / np.linalg.norm(raw)).astype("float32").tolist())
    docs = {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in ids],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    vecs = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i in ids], pa.int32()),
    }
    return docs, vecs, planted, exact


def corpus_batches(cache: Path, seed: int, job: int) -> dict:
    out = cache / f"corpus-{seed}-{job}-{VERSION}"
    manifest = _cached(out)
    if manifest:
        return manifest
    rng = random.Random(f"corpus:{seed}:{job}")
    nrng = np.random.default_rng([seed, job, 11])
    tmp = out / "tmp"
    for sub in ("sf", "docs", "vecs"):
        (tmp / sub).mkdir(parents=True)
    n = CORPUS_BATCHES * CORPUS_BATCH_DOCS
    plant = set(rng.sample(range(1, n), round(n * CORPUS_DUP_SHARE)))
    pool: list = []
    docs_parts, vecs_parts, planted, exact, batches = [], [], [], [], []
    for b in range(CORPUS_BATCHES):
        ids = range(b * CORPUS_BATCH_DOCS, (b + 1) * CORPUS_BATCH_DOCS)
        docs, vecs, dups, copies = _corpus_rows(rng, nrng, ids, plant, pool)
        planted += dups
        exact += copies
        docs_t, vecs_t = pa.table(docs), pa.table(vecs)
        name = f"batch_{b:03d}"
        (tmp / "docs" / f"{name}.json").write_text(
            "\n".join(json.dumps(r) for r in docs_t.drop(["n_chars"]).to_pylist()) + "\n"
        )
        pq.write_table(
            vecs_t.select(["vec_id", "embedding"]), tmp / "vecs" / f"{name}.parquet"
        )
        docs_parts.append(docs_t)
        vecs_parts.append(vecs_t)
        batches.append(name)
    pq.write_table(pa.concat_tables(docs_parts), tmp / "sf" / "documents.parquet")
    pq.write_table(pa.concat_tables(vecs_parts), tmp / "sf" / "embeddings.parquet")
    return _commit(
        out,
        {
            "batches": batches,
            "records": 2 * n,
            "docs": n,
            "planted_dup_ids": planted,
            "planted_exact_ids": exact,
            "planted_dup_share": len(planted) / n,
        },
    )


# ---------------------------------------------------------------------------


def _cached(out: Path) -> dict | None:
    path = out / "manifest.json"
    if path.exists():
        return json.loads(path.read_text())
    shutil.rmtree(out, ignore_errors=True)
    return None


def _commit(out: Path, manifest: dict) -> dict:
    """Measure the staged files, then publish them and the manifest.
    The manifest is written last, so a cut-short generation is redone."""
    tmp = out / "tmp"
    files = [p for p in tmp.rglob("*") if p.is_file()]
    manifest["input_files"] = len(files)
    manifest["input_bytes"] = sum(p.stat().st_size for p in files)
    for child in tmp.iterdir():
        os.replace(child, out / child.name)
    tmp.rmdir()
    (out / "manifest.json").write_text(json.dumps(manifest))
    return manifest
