"""Oracle-differential test helpers (SURVEY.md §5 strategy #1).

Mirrors the driver's correctness gate: run the PySpark query and its
DuckDB oracle SQL over the same parquet, compare row count, sorted
column names, and an order-insensitive canonical value hash.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import hashlib
import math
import re

import duckdb

from .sources.tables import TABLES


def canon(v) -> str:
    """Canonical string for one value (engine-independent but
    TYPE-STRICT: an int and an integral float canonicalize differently,
    so an oracle column whose type diverges from Spark's fails locally
    the same way it fails the driver's hasher — round 2 shipped three
    red rows because the old %.12g form conflated 45640155676 with
    45640155676.0)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 12 significant digits: tolerant of summation-order ulp noise,
        # strict enough to catch real value bugs.  Integral floats keep
        # a trailing ".0" so they can never equal a true int.
        s = f"{v:.12g}"
        if not any(c in s for c in ".eni"):  # no '.', exponent, nan/inf
            s += ".0"
        return s
    if isinstance(v, _decimal.Decimal):
        # DuckDB HUGEINT / DECIMAL surface as Decimal on the Arrow
        # path.  Distinct marker: only matches a Spark DecimalType.
        return "dec:" + format(v.normalize(), "f")
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(canon(r[i]) for i in order) for r in rows)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for ln in canon_rows(cols, rows):
        h.update(ln.encode())
        h.update(b"\x02")
    return h.hexdigest()[:16]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the driver tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# --- engine type classes -----------------------------------------------
#
# The driver's comparator is type-strict: DuckDB HUGEINT (grouped /
# windowed sum(BIGINT)) and DOUBLE (floor(avg(...))) hash differently
# from Spark BIGINT even when every value is identical.  This audit is
# free (no query execution — Spark schemas are lazy, DuckDB DESCRIBE
# only plans) and catches the whole class before the driver does.

_SPARK_INT = {"tinyint", "smallint", "int", "integer", "bigint", "long"}
_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}


def _spark_class(dt: str) -> str:
    d = dt.lower()
    if d in _SPARK_INT:
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "decimal"
    if d in ("string", "varchar"):
        return "str"
    if d == "boolean":
        return "bool"
    if d == "date":
        return "date"
    if d.startswith("timestamp"):
        return "timestamp"
    if d == "binary":
        return "binary"
    if d.startswith("array"):
        return "array"
    if d.startswith(("map", "struct")):
        return "nested"
    return d


def _duck_class(dt: str) -> str:
    u = dt.upper()
    if u in _DUCK_INT:
        return "int"
    if u == "HUGEINT":
        # Arrow materializes HUGEINT as decimal128/float64 depending on
        # the client version — either way it can never hash-match a
        # Spark BIGINT, so it matches NO Spark class: always cast.
        return "hugeint"
    if u in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if u.startswith("DECIMAL"):
        return "decimal"
    if u in ("VARCHAR", "TEXT", "JSON"):
        # DuckDB's JSON logical type rides Arrow as a plain utf8
        # column — value-identical to a Spark to_json() string.
        return "str"
    if u == "BOOLEAN":
        return "bool"
    if u == "DATE":
        return "date"
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    if u == "BLOB":
        return "binary"
    if u.endswith("[]") or u.startswith("LIST"):
        return "array"
    if u.startswith(("STRUCT", "MAP")):
        return "nested"
    return u


def type_parity(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Compare Spark result dtypes vs DuckDB DESCRIBE of the oracle.

    Returns mismatch descriptions; empty == the two engines agree on
    every column's comparison class.  Executes nothing.
    """
    sdt = dict(spark_df.dtypes)
    ddt = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    problems: list[str] = []
    if sorted(sdt) != sorted(ddt):
        return [f"schema spark={sorted(sdt)} duck={sorted(ddt)}"]
    for name in sorted(sdt):
        sc, dc = _spark_class(sdt[name]), _duck_class(ddt[name])
        if sc != dc:
            problems.append(
                f"type mismatch {name}: spark {sdt[name]} ({sc}) "
                f"vs duck {ddt[name]} ({dc})"
            )
    return problems


def compare(
    spark_df,
    con: duckdb.DuckDBPyConnection,
    sql: str,
    require_rows: bool = False,
) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity).

    DuckDB results are fetched through Arrow — the same materialization
    path the driver's hasher uses — so HUGEINT/DOUBLE type divergence
    fails here exactly as it fails there (fetchall() would silently
    convert HUGEINT back to int and mask it).

    ``require_rows=True`` additionally fails a 0-row Spark result even
    when the oracle is also 0 rows: two empty frames hash-match
    vacuously, proving nothing about the operator (two such greens were
    hand-fixed across r4-r5; VERDICT r6 #5 makes it a gate).
    """
    scols = spark_df.columns
    srows = [tuple(r) for r in spark_df.collect()]
    if require_rows and not srows:
        return ["vacuous: spark returned 0 rows (empty-vs-empty proves nothing)"]
    res = con.execute(sql)
    tbl = res.fetch_arrow_table()
    ocols = list(tbl.column_names)
    orows = list(
        zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)])
    ) if tbl.num_columns else []
    if tbl.num_rows and not orows:
        orows = [()] * tbl.num_rows

    problems: list[str] = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema spark={sorted(scols)} duck={sorted(ocols)}")
        return problems
    s_lines, o_lines = canon_rows(scols, srows), canon_rows(ocols, orows)
    if s_lines != o_lines:
        for a, b in zip(s_lines, o_lines):
            if a != b:
                problems.append(f"value mismatch:\n spark: {a[:300]}\n duck:  {b[:300]}")
                break
        else:
            problems.append("value mismatch in tail rows")
    return problems


def formatted_plan(df) -> str:
    """``explain("formatted")`` text of ``df`` as a string (it only
    prints to stdout in PySpark)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


#: Plan text that changes between two builds of the same plan:
#: expression ids, lambda variable ids (``lambda x_767``), plan ids,
#: RDD ids and the checkpoint call site (``<unknown>:0`` in one
#: process, ``NativeMethodAccessorImpl.java:0`` in another).
_PLAN_NOISE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"localCheckpoint at [^,\s]+"), "localCheckpoint"),
)


def normalize_plan(text: str) -> str:
    """``text`` with the per-build noise stripped, so two dumps of the
    same plan compare equal across builds, sessions and processes."""
    for pattern, repl in _PLAN_NOISE:
        text = pattern.sub(repl, text)
    return text


def close_bench_artifact(repo_root: str) -> str | None:
    """Path of the newest TRACKED close snapshot
    ``docs/bench_r<N>_full.json``, or None.

    These are written once per round close (``$SPARK_GRAFT_ROUND``) and
    committed, so they are the STABLE per-query numbers — unlike
    ``bench_latest_full.json``, which any driver post-close run rewrites
    in whatever noise window that run landed in (VERDICT r8 #1: a
    noise-band query crossed the heavy threshold in a fresh artifact
    and failed the audit with no code change).
    """
    import glob
    import os
    import re

    best, best_key = None, None
    for p in glob.glob(os.path.join(repo_root, "docs", "bench_r*_full.json")):
        m = re.match(r"bench_r(\d+)([a-z]\d*)?_full\.json", os.path.basename(p))
        if not m:
            continue
        key = (int(m.group(1)), m.group(2) or "")
        if best_key is None or key > best_key:
            best, best_key = p, key
    return best


def latest_bench_artifact(repo_root: str) -> str | None:
    """Path of the freshest full-bench artifact, or None.

    Prefers the UNTRACKED ``docs/bench_latest_full.json`` (rewritten by
    every local bench run; gitignored so driver post-close runs cannot
    dirty the tree — VERDICT r6 #2), falling back to the newest tracked
    close snapshot so a fresh clone still audits against the last
    committed round.
    """
    import os

    latest = os.path.join(repo_root, "docs", "bench_latest_full.json")
    if os.path.exists(latest):
        return latest
    return close_bench_artifact(repo_root)
