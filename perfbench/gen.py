"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed``; the same
seed gives byte-identical inputs. Two input families:

* ``tables/`` — ``lineitem`` and the ``events``, ``documents`` and
  ``embeddings`` corpus tables, one parquet file (one row group) each,
  with the column names, types, domains and uniform distributions of
  the repository's sf0.1 test fixture. The llm_corpus and iterative
  workloads read them through ``queries.QUERIES[key](spark, dir)``.
* ``etl/`` — the reference user flow's inputs: a lineitem-shaped
  primary CSV, mapping CSVs with seed-injected duplicate keys (the last
  one wins) and keys that miss, and a seed-drawn rule JSON whose
  columns, thresholds and Lookups come from the primary's real schema.

Inputs are cached per seed under ``<cache>/v<VERSION>-s<seed>/``; a directory is
published by an atomic rename only once complete, so an interrupted
run never leaves a half-written cache behind.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Rows per table. The lineitem keys span the sf0.1 fixture's half-size
# domains (orders, parts, suppliers); corpus tables keep the fixture's
# sizes.
ROWS = {"lineitem": 300_000, "events": 100_000, "documents": 5_000,
        "embeddings": 2_000}
KEY_DOMAINS = {"orders": 75_000, "parts": 10_000, "suppliers": 500}
ETL_ROWS = 150_000
VERSION = 2

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]  # en ~2/5 as in sf0.1
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
RETURN_FLAGS = ["A", "N", "R"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, span: int, n: int) -> pa.Array:
    d = _EPOCH_1995 + (lo + rng.integers(0, span, n)).astype(
        "timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the fixture the queries were tuned on
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def make_tables(seed: int, out: str) -> dict[str, int]:
    """Write the parquet tables the workloads read; return their row
    counts."""
    rng = np.random.default_rng([seed, 1])
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["lineitem"] = lineitem(rng, n["lineitem"], **KEY_DOMAINS)
    ne = n["events"]
    ts = (np.datetime64("2024-01-01", "us")
          + np.sort(rng.integers(0, 30 * _DAY_US, ne)).astype(
              "timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, ne)])})
    t["documents"] = documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def lineitem(rng: np.random.Generator, n: int, orders: int, parts: int,
             suppliers: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900, 105000, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, 1, 2499, n)})


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words docs over a 30-word vocabulary; ~5% are near
    duplicates (an earlier doc with a few words replaced by ``dup``)
    and a handful are exact duplicates, so the dedup ops find work."""
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), rng.integers(1, 4)):
                words[j] = "dup"
            texts.append(" ".join(words))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, 30,
                                                     rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


# ---- etl_roundtrip inputs -------------------------------------------

# Mapping tables: (file stem, key column, primary column it serves,
# value columns). Keys are drawn from the matching primary column so
# most rows hit; a seed-chosen ~3% of keys are withheld (misses) and
# ~2% are written twice with a different value (the later row wins).
MAPPINGS = [
    ("supplier_map", "s_suppkey", "l_suppkey", ["s_name", "s_region"]),
    ("part_map", "p_partkey", "l_partkey", ["p_name", "p_brand", "p_type"]),
    ("order_map", "o_orderkey", "l_orderkey",
     ["o_orderpriority", "o_clerk"]),
    ("flag_map", "code", "l_returnflag", ["flag_label"]),
]

# Conditional templates: (column, comparison, candidate thresholds).
CONDITIONS = [
    ("l_quantity", ">", [10, 20, 25, 30, 40]),
    ("l_quantity", "<=", [5, 15, 35]),
    ("l_discount", ">=", [0.02, 0.05, 0.08]),
    ("l_tax", "<", [0.02, 0.04, 0.06]),
    ("l_extendedprice", ">", [20000, 50000, 80000]),
    ("l_linestatus", "==", ["F", "O"]),
    ("l_returnflag", "!=", ["A", "N", "R"]),
    ("l_linenumber", ">=", [2, 4, 6]),
]
DIRECT = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_shipdate", "l_returnflag"]
N_DIRECT, N_CONDITIONAL = 3, 8


def _literal(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def make_rules(rng: np.random.Generator) -> list[dict]:
    """A 16-rule pipeline in the reference UI's JSON schema: the row id,
    N_DIRECT Direct Maps, one Lookup into every mapping table and
    N_CONDITIONAL Conditionals. The seed draws the columns, value
    columns, thresholds and order; the counts are fixed because the
    export's cost grows with them (11 rules: 3.4 s a pass, 20 rules:
    5.1 s), which made pass times spread 0.29 across seeds."""
    rules: list[dict] = [{"name": "row_id", "type": "Direct Map",
                          "source": "l_rowid"}]
    for src in rng.choice(DIRECT, N_DIRECT, replace=False):
        rules.append({"name": f"out_{src}", "type": "Direct Map",
                      "source": str(src)})
    for k, i in enumerate(rng.permutation(len(MAPPINGS))):
        stem, key, in_col, vals = MAPPINGS[i]
        val = vals[int(rng.integers(0, len(vals)))]
        rules.append({"name": f"lk{k}_{val}", "type": "Lookup",
                      "map_name": stem, "in_col": in_col,
                      "key_col": key, "val_col": val})
    for k in range(N_CONDITIONAL):
        terms = []
        for i in rng.choice(len(CONDITIONS), rng.integers(1, 3),
                            replace=False):
            col, op, cands = CONDITIONS[int(i)]
            v = cands[int(rng.integers(0, len(cands)))]
            terms.append(f"(`{col}` {op} {_literal(v)})")
        glue = " & " if rng.random() < 0.7 else " | "
        rules.append({"name": f"cond{k}", "type": "Conditional",
                      "expression": glue.join(terms),
                      "then": f"yes{k}", "else": f"no{k}"})
    return rules


def make_etl(seed: int, out: str) -> dict[str, int]:
    """Write the primary CSV, mapping CSVs and ``rules.json``; return
    the row count of every CSV."""
    rng = np.random.default_rng([seed, 2])
    n = ETL_ROWS
    li = lineitem(rng, n, orders=150_000, parts=20_000, suppliers=1_000)
    # NULLs in condition inputs exercise "NULL condition -> else"
    cols = {"l_rowid": pa.array(np.arange(n), pa.int64())}
    for name in li.column_names:
        col = li[name]
        if name in ("l_quantity", "l_discount"):
            col = pa.array(col.to_numpy(), mask=rng.random(n) < 0.02)
        elif name == "l_shipdate":
            col = col.cast(pa.date32())
        cols[name] = col
    primary = pa.table(cols)
    counts = {"lineitem_main": n}
    pacsv.write_csv(primary, os.path.join(out, "lineitem_main.csv"))
    for stem, key, in_col, vals in MAPPINGS:
        keys = np.unique(primary[in_col].to_numpy(zero_copy_only=False))
        keys = keys[rng.random(len(keys)) >= 0.03]       # misses
        dups = keys[rng.random(len(keys)) < 0.02]        # last wins
        all_keys = np.concatenate([keys, rng.permutation(dups)])
        m = len(all_keys)
        table = {key: pa.array(all_keys)}
        for j, v in enumerate(vals):
            tag = rng.integers(0, 1000, m)
            version = np.where(np.arange(m) >= len(keys), "v2", "v1")
            table[v] = pa.array([f"{v}_{t}_{ver}" if j == 0 else f"{v}_{t}"
                                 for t, ver in zip(tag, version)])
        counts[stem] = m
        pacsv.write_csv(pa.table(table), os.path.join(out, f"{stem}.csv"))
    with open(os.path.join(out, "rules.json"), "w") as fh:
        json.dump(make_rules(rng), fh, indent=1)
    return counts


def input_dir(cache: str, seed: int) -> str:
    # bump VERSION whenever the generated bytes change, so a cache from
    # an older generator is never reused
    return os.path.join(cache, f"v{VERSION}-s{seed}")


def ensure_inputs(seed: int, cache: str) -> dict:
    """Return the manifest of the cached inputs for ``seed``, generating
    them first if absent."""
    final = input_dir(cache, seed)
    manifest = os.path.join(final, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return json.load(fh)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tables"))
    os.makedirs(os.path.join(tmp, "etl"))
    rows = make_tables(seed, os.path.join(tmp, "tables"))
    rows.update(make_etl(seed, os.path.join(tmp, "etl")))
    sizes = {}
    for sub in ("tables", "etl"):
        for f in sorted(os.listdir(os.path.join(tmp, sub))):
            sizes[f"{sub}/{f}"] = os.path.getsize(os.path.join(tmp, sub, f))
    info = {"seed": seed, "rows": rows, "bytes": sizes}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(info, fh, indent=1)
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    return info
