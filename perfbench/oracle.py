"""DuckDB oracles, computed once per seed outside every timed region.

- ``fold_twin``: a DuckDB twin of the sequential conditional-override fold
  (one CASE projection per rule over the previous rule's output, the
  null-safe change gate, the details list) reduced to the same
  order-insensitive row digest the Spark pass computes in its own action.
- ``entry_oracles``: the repository's ``oracle_sql()`` entries, compared
  with ``tools/check_correctness.py``'s canonical value digest.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

from .gen import Rule

#: fold input columns in output order, with the canonical-string kind
FOLD_COLUMNS = [
    ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
    ("l_linenumber", "int"), ("l_quantity", "dbl"), ("l_extendedprice", "dbl"),
    ("l_discount", "dbl"), ("l_tax", "dbl"), ("l_returnflag", "str"),
    ("l_linestatus", "str"), ("l_shipdate", "int"), ("l_tag", "str"),
    ("l_meta", "meta"),
]
KEY_TYPES = {
    "l_tag": "VARCHAR", "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
    "l_discount": "DOUBLE", "l_suppkey": "BIGINT", "l_quantity": "DOUBLE",
    "l_extendedprice": "DOUBLE", "l_meta.prio": "VARCHAR", "l_meta.score": "BIGINT",
}
DETAILS = "plugDetails"


def _canon(col: str, kind: str) -> str:
    """SQL (valid in Spark and DuckDB) rendering one column as text."""
    if kind == "dbl":
        # exact for the 2-decimal inputs and the x0.9 / +1 rewrites; both
        # engines compute the product in IEEE double and floor it
        s = f"CAST(CAST(floor({col} * 1000000) AS BIGINT) AS STRING)"
    elif kind == "meta":
        return (
            f"CASE WHEN {col} IS NULL THEN '~' ELSE coalesce({col}.prio, '~') || ':' "
            f"|| coalesce(CAST({col}.score AS STRING), '~') END"
        )
    else:
        s = f"CAST({col} AS STRING)"
    return f"coalesce({s}, '~')"


def row_digest_sql(dialect: str) -> str:
    """``sum`` over rows of a 40-bit md5 prefix of the canonical row text.
    40 bits keep the sum of a few hundred thousand rows inside BIGINT."""
    if dialect == "spark":
        details = (
            f"array_join(transform({DETAILS}, d -> concat('|', d.name, ':', d.version, "
            "':', array_join(d.fieldNames, ','))), '')"
        )
    else:
        details = "det"
    row = " || '^' || ".join([_canon(c, k) for c, k in FOLD_COLUMNS] + [details])
    if dialect == "spark":
        h = f"CAST(conv(substr(md5({row}), 1, 10), 16, 10) AS BIGINT)"
    else:
        h = f"('0x' || substr(md5({row}), 1, 10))::BIGINT"
    return f"sum({h})"


def _duck_value(key: str, value: str) -> str:
    if "`" in value:
        return "(" + value.replace("`", "") + ")"
    lit = value.replace("'", "''")
    ty = KEY_TYPES[key]
    return f"'{lit}'" if ty == "VARCHAR" else f"CAST('{lit}' AS {ty})"


def fold_twin_sql(source: str, rules: list[Rule]) -> str:
    """The sequential fold as chained DuckDB projections; ``det`` carries
    the details list rendered as text."""
    ctes = [f"s0 AS (SELECT *, '' AS det FROM {source})"]
    for i, r in enumerate(rules, 1):
        cond = f"({r.condition})"
        vals = {k: _duck_value(k, v) for k, v in r.actions}
        gate = " OR ".join(f"NOT ({k} IS NOT DISTINCT FROM {v})" for k, v in vals.items())
        cols = []
        for c, _ in FOLD_COLUMNS:
            if c == "l_meta" and any(k.startswith("l_meta.") for k in vals):
                leaf = {
                    f: (
                        f"CASE WHEN {cond} THEN {vals[f'l_meta.{f}']} ELSE l_meta.{f} END"
                        if f"l_meta.{f}" in vals else f"l_meta.{f}"
                    )
                    for f in ("prio", "score")
                }
                cols.append(
                    "CASE WHEN l_meta IS NULL THEN NULL ELSE struct_pack("
                    f"prio := {leaf['prio']}, score := {leaf['score']}) END AS l_meta"
                )
            elif c in vals:
                cols.append(f"CASE WHEN {cond} THEN {vals[c]} ELSE {c} END AS {c}")
            else:
                cols.append(c)
        entry = f"|{r.name}:{r.version}:" + ",".join(k for k, _ in r.actions)
        cols.append(f"CASE WHEN {cond} AND ({gate}) THEN det || '{entry}' ELSE det END AS det")
        ctes.append(f"s{i} AS (SELECT {', '.join(cols)} FROM s{i - 1})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {row_digest_sql('duckdb')}::BIGINT AS digest, count(*) AS n, "
        f"count(*) FILTER (WHERE det <> '') AS changed FROM s{len(rules)}"
    )


def fold_twin(source: str, rules: list[Rule]) -> dict[str, int]:
    """Digest, row count and changed-row count of the fold over the
    parquet file(s) at ``source`` (a path or glob)."""
    con = duckdb.connect()
    try:
        digest, n, changed = con.execute(
            fold_twin_sql(f"read_parquet('{source}')", rules)
        ).fetchone()
    finally:
        con.close()
    return {"digest": int(digest), "n": int(n), "changed": int(changed)}


# -- repository oracles --------------------------------------------------------------

def canon(v) -> str:
    """Value canonicalisation of ``tools/check_correctness.py``, copied
    rather than imported so that reworking ``tools/`` cannot change what
    the benchmark checks."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest over columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def entry_oracles(tables_dir: str, names: list[str]) -> dict[str, dict]:
    """Row count and digest of each named ``oracle_sql()`` entry over the
    generated tables."""
    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_SF_DIR"] = tables_dir
    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("customer", "orders", "lineitem", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            cur = con.execute(sqls[name])
            cols = [d[0] for d in cur.description]
            rows = [tuple(r[c] for c in cols) for r in cur.fetch_arrow_table().to_pylist()]
            out[name] = {"n": len(rows), "digest": table_digest(cols, rows)}
    finally:
        con.close()
    return out


def spark_digest(df) -> dict:
    rows = [tuple(r) for r in df.collect()]
    return {"n": len(rows), "digest": table_digest(list(df.columns), rows)}


def matches(got: dict, expected: dict) -> bool:
    """Every value a pass produced equals the oracle's value of that name."""
    return got == {k: expected.get(k) for k in got}
