"""Seeded input generator for the pipeline benchmark.

Every input a workload hands the program is built here from ``--seed``
alone, in the schemas of the engine's TPC-H-ish fixtures
(``sources/parquet.TABLES``), together with the end state the program
must reach. The planted duplicates, dirt and CDC op mix are chosen by
the generator, so the expected state is known by construction:

- ``batch_refresh``: a dirty string-typed "MySQL snapshot" of the eight
  relational tables plus the clean silver state that clean → dedup
  must produce from it.
- ``cdc_replay``: a seeded entity silver table and a Debezium envelope
  change log against it, one parquet file per micro-batch.
- ``bi_dashboard``: a clean silver layer in the fixture layout.
- ``curation``: documents, embeddings and events.

Same seed → byte-identical files (pyarrow writes no timestamps or host
data into parquet); another seed → other values.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes, as a fraction of the sf1 TPC-H-ish row counts. They are fixed
# by what one run can afford inside the benchmark's time budget, not by
# any measured deployment: on a 4-core host a cold refresh takes ~15 s,
# bi_dashboard queries ~0.7 s under 4 clients, a cold curation pass
# ~14 s.
BATCH_SF = 0.004
BI_SF = 0.002
CURATION_DOCS = 300
CURATION_VECS = 300
CURATION_EVENTS = 3000
CDC_ENTITIES = 10_000
CDC_FILES = 12
CDC_EVENTS_PER_FILE = 150

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
# Accented words carry the mojibake the snapshot plants (cleaning C12).
ADJECTIVES = ("red", "blue", "green", "small", "large", "marrón", "añejo", "rústico")
NOUNS = ("ring", "widget", "bolt", "anvil", "gear", "tuerca", "piñón")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = (
    "a the data table row column key value part line order customer scan "
    "filter join group agg sort window hash merge batch stream query spark "
    "vector small big fast slow"
).split()

EPOCH = dt.datetime(1970, 1, 1)
US = 1_000_000


def _ts(seconds: np.ndarray) -> pa.Array:
    """Seconds since the epoch → naive microsecond timestamps (the
    fixtures' TIMESTAMP(MICROS, isAdjustedToUTC=false))."""
    return pa.array((np.asarray(seconds, dtype=np.int64) * US), pa.timestamp("us"))


def _day(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - EPOCH).total_seconds())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The eight relational tables plus ``events`` in the fixture
    schemas, with row counts proportional to ``sf``."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_events = max(500, int(1_000_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.choice(ADJECTIVES, n_part)
    noun = rng.choice(NOUNS, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    o_date = _day(1995, 1, 1) + rng.integers(0, 2404, n_ord) * 86_400
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
            "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
            "l_shipdate": _ts(o_date[l_ord] + rng.integers(1, 122, n_li) * 86_400),
        }
    )
    t["events"] = events_table(rng, n_events, n_users)
    return t


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = _day(2024, 1, 1)
    ts = np.sort(start * US + rng.integers(0, 30 * 86_400 * US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(8, 90, n)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype(np.float32).ravel()), dim
    ).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


# --- batch_refresh: the dirty snapshot --------------------------------------

# Keys per table: the dedup key of the ingest and its audit key.
KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
}
SNAPSHOT_TABLES = tuple(KEYS)
VERSION_COL = "updated_at"

# Columns that may be planted with a value the cleaners turn into NULL
# (sentinels, zero-dates, out-of-range dates, non-finite or
# non-integral numbers) and NOT-NULL strings that become 'N/A'.
NULLABLE_DIRT = {
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_size", "p_retailprice"),
    "orders": ("o_totalprice", "o_orderdate"),
    "lineitem": ("l_tax", "l_shipdate"),
    "events": ("value",),
}
NOT_NULL_STRINGS = {"customer": ("c_name",), "supplier": ("s_name",)}
# Fault rates of the snapshot and the change log are assumptions, not
# measured traffic: no source gives the reference pipeline's rates.
# They are set so every kind of fault occurs tens to hundreds of times
# per run.
NULL_RATE = 0.01
STALE_RATE = 0.10
EXACT_DUP_RATE = 0.05

_WS = ("\u00a0", "\u3000", "\u2009", "\t", "  ")
_INT_NULLS = ("null", "NaN", "None", "", "na", "12.7", "abc")
_FLOAT_NULLS = ("null", "NaN", "None", "", "inf", "1e999", "-Infinity")
_BLANKS = ("", "\u3000", " \t ")
_DATE_NULLS = ("0000-00-00", "0000-00-00 00:00:00", "", "NULL", "1899-05-01", "2150-01-01")
_NULLS = {"integer": _INT_NULLS, "float": _FLOAT_NULLS, "temporal": _DATE_NULLS}


def kind_of(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "integer"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return "temporal"
    return "string"


def clean_specs(table: str, schema: pa.Schema) -> dict[str, dict]:
    """The ``clean_table`` spec the ingest applies to a snapshot table
    (the shape schema reflection produces)."""
    keys = KEYS[table]
    specs = {
        f.name: {
            "kind": kind_of(f.type),
            "pk": f.name in keys,
            "nullable": f.name not in keys
            and f.name not in NOT_NULL_STRINGS.get(table, ()),
        }
        for f in schema
    }
    specs[VERSION_COL] = {"kind": "temporal", "nullable": True}
    return specs


def _mojibake(s: str) -> str:
    out = s.replace("ó", "??")
    for ch in "áéíúñüÁÉÍÓÚÑÜ":
        out = out.replace(ch, ch.encode("utf-8").decode("latin-1"))
    return out


def _dirty_string(rnd: random.Random, s: str) -> str:
    r = rnd.random()
    if r < 0.5 and any(ord(c) > 127 for c in s):
        s = _mojibake(s)
    r = rnd.random()
    if r < 0.3:
        return _WS[rnd.randrange(len(_WS))] + s + "\x01"
    if r < 0.45:
        return s.replace(" ", "   ")
    return s


def _dirty_number(rnd: random.Random, v, kind: str) -> str:
    # Spark's trim strips ASCII spaces only, so numbers get no other
    # padding: the cleaners must turn every form back into ``v``.
    s = repr(int(v)) if kind == "integer" else repr(float(v))
    r = rnd.random()
    if kind == "integer" and r < 0.2:
        return s + ".0"
    if r < 0.4:
        return " " + s + "  "
    return s


def _micros(v: dt.datetime) -> int:
    return (v - EPOCH) // dt.timedelta(microseconds=1)


def _dirty_ts(rnd: random.Random, micros: int) -> str:
    d = EPOCH + dt.timedelta(microseconds=int(micros))
    r = rnd.random()
    if d.microsecond:
        return d.isoformat(sep=" " if r < 0.5 else "T")
    if d.hour == d.minute == d.second == 0 and r < 0.3:
        return d.strftime("%Y-%m-%d")
    if r < 0.6:
        return d.strftime("%Y-%m-%dT%H:%M:%S")
    return d.strftime("%Y-%m-%d %H:%M:%S")


def _render(rnd: random.Random, values: dict, kinds: dict, version: str) -> list[str]:
    row = []
    for c, v in values.items():
        k = kinds[c]
        if k == "string":
            row.append(_dirty_string(rnd, v))
        elif k == "temporal":
            row.append(_dirty_ts(rnd, _micros(v)))
        else:
            row.append(_dirty_number(rnd, v, k))
    row.append(version)
    return row


def _stale(values: dict, kinds: dict, keys: tuple[str, ...]) -> dict:
    out = dict(values)
    for c, k in kinds.items():
        if c in keys:
            continue
        if k == "float":
            out[c] = round(float(out[c]) + 1.0, 2)
        elif k == "integer":
            out[c] = int(out[c]) + 1
        elif k == "string":
            out[c] = out[c] + " old"
    return out


def snapshot(
    rng: np.random.Generator, base: dict[str, pa.Table]
) -> tuple[dict[str, pa.Table], dict[str, pa.Table], dict]:
    """Dirty string-typed snapshot tables, the expected silver tables
    and the planted counts.

    Each expected row is delivered once in a dirty but cleanable form
    with its newest ``updated_at``; ``STALE_RATE`` of the rows are also
    re-delivered as older versions with changed values (or a version
    the cleaners null, which sorts last), and ``EXACT_DUP_RATE`` twice
    at the same version. ``NULL_RATE`` of the cells in
    ``NULLABLE_DIRT`` columns hold a value the cleaners null, and of
    ``NOT_NULL_STRINGS`` cells a blank the cleaners fill with 'N/A'."""
    dirty: dict[str, pa.Table] = {}
    expected: dict[str, pa.Table] = {}
    planted = {"rows": 0, "stale_versions": 0, "exact_duplicates": 0, "nulled_cells": 0}
    version_lo = _day(2024, 3, 1)
    # per-cell draws use the stdlib generator: numpy's scalar calls
    # cost ~20x more and dominate generation time
    rnd = random.Random(int(rng.integers(2**63)))
    for name in SNAPSHOT_TABLES:
        tb = base[name]
        kinds = {f.name: kind_of(f.type) for f in tb.schema}
        keys = KEYS[name]
        dirt_cols = [
            (j, c, _NULLS[kinds[c]], None)
            for j, c in enumerate(kinds)
            if c in NULLABLE_DIRT.get(name, ())
        ] + [
            (j, c, _BLANKS, "N/A")
            for j, c in enumerate(kinds)
            if c in NOT_NULL_STRINGS.get(name, ())
        ]
        version = (version_lo + rng.integers(0, 30 * 86_400, tb.num_rows)) * US
        exp_rows = tb.to_pylist()
        originals = tb.to_pylist()
        out_rows: list[list[str]] = []
        for i, values in enumerate(exp_rows):
            ver = int(version[i])
            row = _render(rnd, values, kinds, _dirty_ts(rnd, ver))
            planted_at: list[int] = []
            for j, c, pool, fill in dirt_cols:
                if rnd.random() < NULL_RATE:
                    row[j] = pool[rnd.randrange(len(pool))]
                    values[c] = fill
                    planted_at.append(j)
            planted["nulled_cells"] += len(planted_at)
            out_rows.append(row)
            if rnd.random() < EXACT_DUP_RATE:
                dup = _render(rnd, originals[i], kinds, _dirty_ts(rnd, ver))
                for j in planted_at:
                    dup[j] = row[j]
                out_rows.append(dup)
                planted["exact_duplicates"] += 1
            if rnd.random() < STALE_RATE:
                older = ver - rnd.randrange(1, 20 * 86_400) * US
                stale_ver = (
                    _DATE_NULLS[rnd.randrange(len(_DATE_NULLS))]
                    if rnd.random() < 0.2
                    else _dirty_ts(rnd, older)
                )
                out_rows.append(_render(rnd, _stale(originals[i], kinds, keys), kinds, stale_ver))
                planted["stale_versions"] += 1
        order = rng.permutation(len(out_rows))
        names = list(kinds) + [VERSION_COL]
        dirty[name] = pa.table(
            {
                c: pa.array([out_rows[r][j] for r in order], pa.string())
                for j, c in enumerate(names)
            }
        )
        planted["rows"] += len(out_rows)
        exp = {}
        for f in tb.schema:
            # clean_integers yields LongType whatever the source width
            t = pa.int64() if pa.types.is_integer(f.type) else f.type
            exp[f.name] = pa.array([r[f.name] for r in exp_rows], t)
        exp[VERSION_COL] = pa.array(version, pa.timestamp("us"))
        expected[name] = pa.table(exp)
    return dirty, expected, planted


# --- cdc_replay: seeded entity table + Debezium change log ------------------

CDC_KEY = "id"
CDC_VERSION = "_ts_ms"
CDC_PAYLOAD = (
    ("id", "bigint"),
    ("nombre", "string"),
    ("extension", "string"),
    ("tamano", "double"),
    ("tipo", "bigint"),
    ("activo", "string"),
)
_EXTS = ("pdf", "docx", "xlsx", "png", "txt")


def _entity(rng: np.random.Generator, i: int, rev: int) -> dict:
    return {
        "id": i,
        "nombre": f"archivo_{i}_v{rev}.{_EXTS[i % 5]}",
        "extension": _EXTS[i % 5],
        "tamano": float(np.round(rng.uniform(1.0, 5e6), 2)),
        "tipo": int(rng.integers(1, 9)),
        "activo": ("S", "N")[int(rng.integers(2))],
    }


def cdc_inputs(rng: np.random.Generator) -> tuple[pa.Table, list[list[str | None]], dict]:
    """(seed silver table, change log as one list of values per
    micro-batch file, planted op counts).

    Ops: u/c/d/r in version order (``ts_ms`` unique per event), then
    delivery faults: duplicate deliveries, events delayed into a later
    file (older version arriving after a newer one), a tombstone after
    every delete, and unparseable payloads. The op mix and fault rates
    are assumptions, like the snapshot's (see ``NULL_RATE``)."""
    n = CDC_ENTITIES
    seed_ver = 1_000_000
    state = {i: _entity(rng, i, 0) for i in range(n)}
    seed = pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "nombre": [state[i]["nombre"] for i in range(n)],
            "extension": [state[i]["extension"] for i in range(n)],
            "tamano": [state[i]["tamano"] for i in range(n)],
            "tipo": pa.array([state[i]["tipo"] for i in range(n)], pa.int64()),
            "activo": [state[i]["activo"] for i in range(n)],
            "__deleted": pa.array([False] * n),
            "_op": ["r"] * n,
            "_ts_ms": pa.array([seed_ver] * n, pa.int64()),
        }
    )
    alive = list(range(n))
    deleted: list[int] = []
    next_id = n
    ts = 2_000_000
    counts = {"c": 0, "u": 0, "d": 0, "r": 0, "duplicates": 0, "delayed": 0,
              "tombstones": 0, "unparseable": 0}
    files: list[list[str | None]] = [[] for _ in range(CDC_FILES)]
    total = CDC_FILES * CDC_EVENTS_PER_FILE
    for e in range(total):
        f = e * CDC_FILES // total
        ts += int(rng.integers(1, 5))
        r = rng.random()
        rev = e + 1
        tombstone = False
        if r < 0.12 or not alive:
            if deleted and rng.random() < 0.3:
                i = deleted.pop(int(rng.integers(len(deleted))))
            else:
                i = next_id
                next_id += 1
            state[i] = _entity(rng, i, rev)
            alive.append(i)
            env = {"before": None, "after": state[i], "op": "c"}
        elif r < 0.22:
            i = alive.pop(int(rng.integers(len(alive))))
            deleted.append(i)
            env = {"before": state[i], "after": None, "op": "d"}
            tombstone = True
        elif r < 0.27:
            i = alive[int(rng.integers(len(alive)))]
            env = {"before": None, "after": state[i], "op": "r"}
        else:
            i = alive[int(rng.integers(len(alive)))]
            new = _entity(rng, i, rev)
            env = {"before": state[i], "after": new, "op": "u"}
            state[i] = new
        counts[env["op"]] += 1
        msg = json.dumps(
            {
                "before": env["before"],
                "after": env["after"],
                "source": {"table": "archivos"},
                "op": env["op"],
                "ts_ms": ts,
            }
        )
        target = f
        if rng.random() < 0.05 and f + 1 < CDC_FILES:
            target = int(rng.integers(f + 1, min(CDC_FILES, f + 4)))
            counts["delayed"] += 1
        files[target].append(msg)
        if rng.random() < 0.05:
            files[int(rng.integers(f, min(CDC_FILES, f + 3)))].append(msg)
            counts["duplicates"] += 1
        if tombstone:
            files[target].append(None)
            counts["tombstones"] += 1
        if rng.random() < 0.01:
            files[f].append(
                '{"before": null, "after": {"id": %d, "nombre": "trunc' % i
                if rng.random() < 0.5
                else "not-json:%d" % i
            )
            counts["unparseable"] += 1
    counts["events"] = sum(len(x) for x in files)
    return seed, files, counts


# --- writing -----------------------------------------------------------------


def write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs under ``out_dir`` and return the
    manifest: input rows and bytes per file plus the planted traffic
    properties. Expected states go under ``out_dir/expected``."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    manifest: dict = {"workload": workload, "seed": seed, "inputs": {}}

    def put(rel: str, table: pa.Table) -> None:
        size = write(table, os.path.join(out_dir, rel))
        if not rel.startswith("expected/"):
            manifest["inputs"][rel] = {"rows": table.num_rows, "bytes": size}

    if workload == "batch_refresh":
        base = base_tables(rng, BATCH_SF)
        dirty, expected, planted = snapshot(rng, base)
        for name in SNAPSHOT_TABLES:
            put(f"snapshot/{name}.parquet", dirty[name])
            put(f"expected/{name}.parquet", expected[name])
        manifest["planted"] = planted
    elif workload == "cdc_replay":
        seed_tb, files, counts = cdc_inputs(rng)
        put("seed/part-00000.parquet", seed_tb)
        for k, values in enumerate(files):
            put(f"log/batch-{k:04d}.parquet", pa.table({"value": pa.array(values, pa.string())}))
        manifest["planted"] = counts
    elif workload == "bi_dashboard":
        for name, tb in base_tables(rng, BI_SF).items():
            put(f"silver/{name}.parquet", tb)
    elif workload == "curation":
        put("corpus/documents.parquet", documents_table(rng, CURATION_DOCS))
        put("corpus/embeddings.parquet", embeddings_table(rng, CURATION_VECS))
        put("corpus/events.parquet", events_table(rng, CURATION_EVENTS, 60))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest["input_rows"] = sum(v["rows"] for v in manifest["inputs"].values())
    manifest["input_bytes"] = sum(v["bytes"] for v in manifest["inputs"].values())
    return manifest
