"""Seeded input generation.  The same seed gives byte-identical files.

The tables follow the schema and value distributions of the sf0.1
TPC-H-like test tables (``customer``, ``orders``, ``lineitem``,
``documents``) at a sampled fraction of their key domains, in a seeded
row order.  They are synthesised here rather than copied, so the benchmark
needs nothing outside its checkout.  ``embeddings`` is a tiny table that
only exists because building ``oracle_sql()`` reads it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: key-domain sizes of the sf0.1 tables
SF01 = {"customer": 15_000, "orders": 150_000, "part": 20_000, "documents": 5_000}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a the data spark stream batch table row column key value hash sort "
    "join group agg filter scan query order part line customer window "
    "merge vector fast slow big small plan rule fold store sketch city "
    "graph rank edge node"
).split()
TAGS = ["t0", "t1", "t2", "t3"]
#: rules ``plug_stream`` folds per micro-batch in ``stream_stores``
PLUG_RULES = 8
PRIOS = ["HIGH", "MID", "LOW"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent, reproducible stream per generated object
    return np.random.default_rng([seed, *stream.encode()])


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _days(rng, n, lo="1992-01-01", hi="2001-12-31"):
    a, b = np.datetime64(lo), np.datetime64(hi)
    return a + rng.integers(0, int((b - a) / np.timedelta64(1, "D")), n).astype(
        "timedelta64[D]"
    )


def _sample_keys(rng, domain: int, frac: float) -> np.ndarray:
    n = max(8, int(domain * frac))
    return rng.permutation(rng.choice(domain, n, replace=False)).astype(np.int64)


def lineitem_columns(rng: np.random.Generator, orderkeys: np.ndarray, n_parts: int) -> dict:
    """1-7 lines per order, lineitem value distributions."""
    per = rng.integers(1, 8, len(orderkeys))
    n = int(per.sum())
    return {
        "l_orderkey": np.repeat(orderkeys, per),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 104_950.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n),
    }


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lens = rng.integers(8, 70, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(seed: int, frac: float, out_dir: str, doc_frac: float | None = None) -> str:
    """Write the sampled tables to ``out_dir``; return it.  The part-key
    domain shrinks with ``frac`` so co-purchase pairs stay as dense as at
    sf0.1 scale."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "tables")
    cust = _sample_keys(rng, SF01["customer"], frac)
    nc = len(cust)
    _write(
        pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{k:09d}" for k in cust],
                "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    orders = _sample_keys(rng, SF01["orders"], frac)
    no = len(orders)
    _write(
        pa.table(
            {
                "o_orderkey": orders,
                "o_custkey": cust[rng.integers(0, nc, no)],
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": np.round(rng.uniform(850.0, 450_000.0, no), 2),
                "o_orderdate": _days(rng, no).astype("datetime64[us]"),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    li = lineitem_columns(rng, orders, max(50, int(SF01["part"] * frac)))
    perm = rng.permutation(len(li["l_orderkey"]))
    _write(
        pa.table({k: v[perm] for k, v in li.items()}),
        f"{out_dir}/lineitem.parquet",
    )
    n_docs = max(40, int(SF01["documents"] * (doc_frac if doc_frac is not None else frac)))
    _write(documents_table(rng, n_docs), f"{out_dir}/documents.parquet")
    _write(
        pa.table(
            {
                "vec_id": np.arange(64, dtype=np.int64),
                "embedding": list(rng.standard_normal((64, 8)).astype(np.float32)),
                "label": rng.integers(0, 4, 64).astype(np.int32),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return out_dir


# -- rules_fold ----------------------------------------------------------------

#: Spark DDL of :func:`fold_table`
FOLD_DDL = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate date, l_tag string, "
    "l_meta struct<prio: string, score: bigint>"
)


def fold_table(rng: np.random.Generator, n_orders: int) -> pa.Table:
    """Lineitem rows plus the two columns the rules write besides lineitem's
    own: a nullable tag (NULL conditions) and a nullable struct (nested
    keys)."""
    cols = lineitem_columns(rng, np.arange(n_orders, dtype=np.int64), 20_000)
    n = len(cols["l_orderkey"])
    tag = np.array(TAGS, dtype=object)[rng.integers(0, len(TAGS), n)]
    tag[rng.random(n) < 0.3] = None
    prio = np.array(PRIOS)[rng.integers(0, 3, n)]
    score = rng.integers(0, 100, n)
    meta_null = rng.random(n) < 0.05
    meta = pa.StructArray.from_arrays(
        [pa.array(prio), pa.array(score, pa.int64())],
        names=["prio", "score"],
        mask=pa.array(meta_null),
    )
    return pa.table({**cols, "l_tag": pa.array(tag, pa.string()), "l_meta": meta})


@dataclass(frozen=True)
class Rule:
    """One generated rule; ``condition`` and expression values are written
    in the SQL subset Spark and DuckDB parse identically."""

    name: str
    version: str
    condition: str
    actions: tuple[tuple[str, str], ...]

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "version": self.version,
                "condition": self.condition,
                "actions": [{"key": k, "value": v} for k, v in self.actions],
            }
        )


def fold_rules(seed: int, n_rules: int, tag: str = "rules") -> list[Rule]:
    """A rule chain in which later conditions read earlier writes: rules
    write tags, flags and the nested ``l_meta.prio`` that later rules
    test, mixing literal and backtick-expression actions.  The shape of
    rule k (condition kinds, action keys) depends only on k; the seed picks
    constants, so every seed gives the engine the same plan shape."""
    rng = _rng(seed, tag)
    written_tags = list(TAGS)
    rules = []

    def atom(kind: int) -> str:
        if kind == 0:
            return f"l_quantity > {rng.integers(5, 45)}"
        if kind == 1:
            return f"l_discount >= {rng.integers(0, 10) / 100:.2f}"
        if kind == 2:
            return f"l_returnflag = '{rng.choice(['A', 'N', 'R', 'X'])}'"
        if kind == 3:
            return f"l_tag = '{rng.choice(written_tags[-6:])}'"
        if kind == 4:
            return "l_tag IS NULL"
        if kind == 5:
            a, b = sorted(rng.choice(7, 2, replace=False) + 1)
            return f"l_linenumber IN ({a}, {b})"
        if kind == 6:
            return f"l_shipdate < DATE '{1993 + rng.integers(0, 8)}-06-01'"
        if kind == 7:
            return f"l_meta.prio = '{rng.choice(PRIOS + ['TOP'])}'"
        if kind == 8:
            return f"l_meta.score > {rng.integers(10, 90)}"
        return f"l_extendedprice * (1 - l_discount) > {rng.integers(20, 90) * 1000}"

    for k in range(n_rules):
        cond = atom(k % 10)
        if k % 5 < 3:
            cond = f"({cond}) {('AND', 'OR')[k % 2]} ({atom((3 * k + 1) % 10)})"
        new_tag = f"t{len(written_tags)}"
        pool = [
            ("l_tag", new_tag),
            ("l_returnflag", str(rng.choice(["A", "N", "R", "X"]))),
            ("l_discount", f"{rng.integers(0, 11) / 100:.2f}"),
            ("l_suppkey", str(int(rng.integers(0, 1000)))),
            ("l_meta.prio", str(rng.choice(PRIOS + ["TOP"]))),
            ("l_meta.score", "`l_meta.score + 7`"),
            ("l_quantity", "`l_quantity + 1`"),
            ("l_extendedprice", "`l_extendedprice * 0.9`"),
            ("l_tag", "`l_tag || '-x'`"),
            ("l_linestatus", "`lower(l_linestatus)`"),
        ]
        # 1-3 distinct keys; the tag write comes first in every other rule
        # so conditions on fresh tags keep appearing
        picks = [pool[0]] if k % 2 == 0 else []
        for i in (k % 9 + 1, (k * 7 + 3) % 9 + 1)[: 1 + k % 3 // 2]:
            if pool[i][0] not in {key for key, _ in picks}:
                picks.append(pool[i])
        if any(v == new_tag for _, v in picks):
            written_tags.append(new_tag)
        rules.append(Rule(f"r{k:03d}", f"v{1 + k % 3}", cond, tuple(picks)))
    return rules


def write_rules(rules: list[Rule], path: str) -> str:
    with open(path, "w", encoding="utf-8") as f:
        for r in rules:
            f.write(r.to_json() + "\n")
    return path


def fold_inputs(seed: int, n_orders: int, n_rules: int, out_dir: str) -> tuple[str, str]:
    """Input parquet and JSON-lines rule file for ``rules_fold``."""
    os.makedirs(out_dir, exist_ok=True)
    data = _write(fold_table(_rng(seed, "fold"), n_orders), f"{out_dir}/fold.parquet")
    rules = write_rules(fold_rules(seed, n_rules), f"{out_dir}/rules.json")
    return data, rules


# -- stream_stores -----------------------------------------------------------------

def _split_files(table: pa.Table, n_batches: int, out_dir: str) -> str:
    """One parquet file per micro-batch, mtimes pinned in batch order (the
    file source orders by modification time)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_batches)
    t0 = 1_600_000_000
    for i in range(n_batches):
        path = f"{out_dir}/batch_{i:04d}.parquet"
        _write(table.slice(i * step, step), path)
        os.utime(path, (t0 + i, t0 + i))
    return out_dir


def stream_sources(
    seed: int, tables_dir: str, n_batches: int, plug_orders: int, out_dir: str
) -> dict[str, str]:
    """Split the generated ``lineitem`` and ``documents`` tables into
    micro-batch files, and write the rows and rules ``plug_stream`` folds."""
    li = pq.read_table(
        f"{tables_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice"],
    )
    docs = pq.read_table(f"{tables_dir}/documents.parquet", columns=["doc_id", "text", "source"])
    plug = fold_table(_rng(seed, "plug"), plug_orders)
    return {
        "lineitem": _split_files(li, n_batches, f"{out_dir}/lineitem"),
        "documents": _split_files(docs, n_batches, f"{out_dir}/documents"),
        "plug": _split_files(plug, n_batches, f"{out_dir}/plug"),
        "plug_rules": write_rules(
            fold_rules(seed, PLUG_RULES, "plug_rules"), f"{out_dir}/plug_rules.json"
        ),
    }
