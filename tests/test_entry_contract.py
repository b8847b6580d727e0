"""Local replica of the driver's correctness harness: run every queries()
entry at sf0.001, compare against oracle_sql() via DuckDB — row count,
column names, and an order-insensitive value hash. Also: every package
module is reachable by imports from a contract entry point, every public
top-level name of the package is named outside the tests, and the package
writes no parquet through Spark's DataFrameWriter."""

import ast
import glob
import hashlib
import math
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def _value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def sql_results(spark, duck):
    """Run all SQL-checkable queries once on each engine."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, sql in oracles.items():
        sdf = qs[name](spark, SF_DIR)
        scols = sdf.columns
        stypes = {f.name.lower(): _canon_type(f.type) for f in sdf.toArrow().schema}
        srows = [tuple(r) for r in sdf.collect()]
        cur = duck.execute(sql)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        dtypes = {
            f.name.lower(): _canon_type(f.type)
            for f in duck.execute(sql).fetch_arrow_table().schema
        }
        results[name] = (scols, srows, dcols, drows, stypes, dtypes)
    return results


def _canon_type(t):
    """Canonical Arrow type label: string/binary width variants collapse, all
    else compares exactly. Catches e.g. DuckDB HUGEINT (decimal128(38,0))
    vs Spark BIGINT (int64) — the round-1 driver hash-fail class."""
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    return str(t)


def test_duck_oracle_types_match_spark(sql_results):
    """The driver's value hash is type-sensitive: equal values in different
    physical types (HUGEINT vs BIGINT) still hash-mismatch. Enforce
    column-for-column Arrow type equality between the two engines."""
    failures = []
    for name, (_, _, _, _, stypes, dtypes) in sql_results.items():
        for col, st in stypes.items():
            dt = dtypes.get(col)
            if dt != st:
                failures.append(f"{name}.{col}: spark={st} duck={dt}")
    assert not failures, "\n".join(failures)


def test_all_sql_queries_match_duckdb(sql_results):
    failures = []
    for name, (scols, srows, dcols, drows, _, _) in sql_results.items():
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            failures.append(f"{name}: schema {scols} != {dcols}")
            continue
        if len(srows) != len(drows):
            failures.append(f"{name}: rows {len(srows)} != {len(drows)}")
            continue
        # map duck columns into spark order by name
        dmap = {c.lower(): i for i, c in enumerate(dcols)}
        drows_m = [tuple(r[dmap[c.lower()]] for c in scols) for r in drows]
        if _value_hash(scols, srows) != _value_hash(scols, drows_m):
            # find first differing line for the error message
            a = sorted("|".join(map(_norm, r)) for r in srows)
            b = sorted("|".join(map(_norm, r)) for r in drows_m)
            diff = next((x, y) for x, y in zip(a, b) if x != y)
            failures.append(f"{name}: value hash mismatch, first diff {diff}")
    assert not failures, "\n".join(failures)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.count()
    assert rows > 0
    assert "p95_gap" in df.columns and "block" not in df.columns


def test_engine_native_queries_run(spark):
    """q21/q22/q24 are oracle-checked via sql_results above; here assert the
    engine-native semantics folded into their checkable columns."""
    qs = entrymod.queries()
    rt = qs["q24_gorilla_roundtrip"](spark, SF_DIR).collect()
    assert rt and all(r.n_points > 0 for r in rt)  # negative = roundtrip fail
    bc = qs["q21_buddy_check_kernel"](spark, SF_DIR).collect()
    assert bc and all(r.flag_valid for r in bc)
    sc = qs["q22_sct_kernel"](spark, SF_DIR).collect()
    assert sc and all(r.flag_valid for r in sc)


def test_q06_null_ts_conversation_matches_oracle(spark, tmp_path):
    """A conversation whose ts values are all NULL has an empty spine: the
    DuckDB spine oracle emits no row for it, and neither may q06's closed
    form. Mixed NULL/non-NULL ts and a multi-hour gap ride along."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    name = "q06_spine_gapfill_hourly"
    src = pq.read_schema(f"{SF_DIR}/events.parquet")
    t = lambda h, m: datetime(2024, 1, 1, h, m)
    rows = [  # (user_id, ts)
        (1, t(0, 5)), (1, t(0, 40)), (1, t(3, 10)),  # plain, 2 gap slots
        (2, None), (2, None),                          # all-NULL ts
        (3, None), (3, t(5, 0)), (3, t(6, 59)),        # some NULL ts
    ]
    events = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([ts for _, ts in rows], pa.timestamp("us")),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    ).cast(src.remove_metadata())
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(events, sf / "events.parquet")
    for other in TABLES:
        if other != "events":
            os.symlink(f"{SF_DIR}/{other}.parquet", sf / f"{other}.parquet")

    sdf = entrymod.queries()[name](spark, str(sf))
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    cur = con.execute(entrymod.oracle_sql()[name])
    dcols = [d[0].lower() for d in cur.description]
    drows = [tuple(r[dcols.index(c.lower())] for c in scols) for r in cur.fetchall()]

    assert sorted(c.lower() for c in scols) == sorted(dcols)
    assert sorted(r[scols.index("conv_id")] for r in srows) == ["c1", "c3"]
    assert len(srows) == len(drows)
    assert _value_hash(scols, srows) == _value_hash(scols, drows)


# The contracts' entry points: the driver queries, the bench scripts, the
# benchmark, the operational scripts, and the Python worker daemon that
# session.py names by string (spark.python.daemon.module).
CONTRACT_ROOTS = ("__spark_entry__.py", "bench*.py", "perfbench/*.py",
                  "scripts/*.py", "olympian_spark/worker_daemon.py")
UNREACHED_ALLOWED = {
    # SeriesCache gap-fill and LOCF (SURVEY #3/#4); q06/q07 use closed forms
    "olympian_spark.operators.spine",
    # synthetic transcripts for the test fixtures
    "olympian_spark.datagen",
}


def _module_file(name):
    base = os.path.join(REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(path):
    name = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
    return name.removesuffix(".__init__")


def _package_imports(path):
    """Package modules that ``path`` imports, function-local imports and
    the parent packages of each import included. The package imports by
    absolute name only; a relative import would show up as unreached."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {n for n in out if n.startswith("olympian_spark") and _module_file(n)}


def test_every_module_reachable_from_a_contract():
    roots = [p for pat in CONTRACT_ROOTS for p in glob.glob(os.path.join(REPO, pat))]
    seen = set()
    todo = [_module_name(p) for p in roots]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += _package_imports(_module_file(name))
    pkg = glob.glob(os.path.join(REPO, "olympian_spark", "**", "*.py"), recursive=True)
    unreached = {_module_name(p) for p in pkg} - seen
    assert unreached - UNREACHED_ALLOWED == set(), "no contract imports these"
    assert UNREACHED_ALLOWED <= unreached, "reachable now: drop from the allowlist"


# Public top-level names that no file outside tests/ names, each kept for a
# reason. Every public name of an UNREACHED_ALLOWED module is exempt too.
UNREFERENCED_ALLOWED = {
    # window-function step/dip/flatline checks: q03, q04 and q05 are their
    # SQL forms (COVERAGE), and the stage-1 stencil tests check against dip_flag
    "olympian_spark.operators.qc_series.step_flag",
    "olympian_spark.operators.qc_series.dip_flag",
    "olympian_spark.operators.qc_series.with_flatline_flag",
    # per-role/per-tool rollup (COVERAGE #19, q11/q12): the reference that
    # rollup_dims_fused is tested against
    "olympian_spark.operators.rollup.rollup_by_dimension",
    # calendar week/month grains over tier_1d with exact p95 (COVERAGE #20)
    "olympian_spark.operators.rollup.rollup_coarser",
    # two-stage skew salting (COVERAGE #23); q19 is its SQL form
    "olympian_spark.operators.rollup.salted_agg",
    # the plain-Python reference encoder that encode_blocks (the production
    # encoder) and the tier oracle are checked against
    "olympian_spark.functions.gorilla.encode_block",
}


def _public_defs():
    """``module.name`` of every public top-level function and class in the
    package."""
    out = set()
    for path in glob.glob(os.path.join(REPO, "olympian_spark", "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        out.update(
            f"{_module_name(path)}.{node.name}"
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not node.name.startswith("_")
        )
    return out


def _names_outside_tests():
    """Every identifier that a .py file outside tests/ names: ast Names,
    Attribute attributes and import aliases. A top-level definition's
    references to its own name (recursion) do not count."""
    names = set()
    for path in glob.glob(os.path.join(REPO, "**", "*.py"), recursive=True):
        if os.path.relpath(path, REPO).split(os.sep)[0] == "tests":
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for top in tree.body:
            own = getattr(top, "name", None)
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name.rsplit(".", 1)[-1]
                else:
                    continue
                if name != own:
                    names.add(name)
    return names


def test_every_public_name_referenced_outside_tests():
    defs = {
        q for q in _public_defs()
        if q.rsplit(".", 1)[0] not in UNREACHED_ALLOWED
    }
    names = _names_outside_tests()
    unreferenced = {q for q in defs if q.rsplit(".", 1)[1] not in names}
    assert unreferenced - UNREFERENCED_ALLOWED == set(), "only tests name these"
    assert UNREFERENCED_ALLOWED <= unreferenced, "referenced now: drop from the allowlist"


def _attr_chain(node):
    """Attribute names along a call chain's receivers, innermost last:
    ``df.write.mode("x").parquet`` -> ``["parquet", "mode", "write"]``."""
    names = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def test_no_dataframe_writer_in_the_package():
    """The catalog's write tasks create its parquet files with pyarrow
    (``catalog._write_files``). Spark's parquet writer goes through Hadoop's
    ``RawLocalFileSystem``, which without native libhadoop forks a ``chmod``
    per file and per directory it creates. The session's ``noop`` prewarm is
    the one ``<df>.write`` allowed; a bit writer's ``w.write(...)`` call is
    not a DataFrameWriter."""
    writers, parquet_writes = [], []
    for path in sorted(glob.glob(os.path.join(REPO, "olympian_spark", "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Attribute) \
                    and node.value.attr == "write":
                writers.append((rel, node.attr))
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                    and node.func.attr == "parquet" and "write" in _attr_chain(node.func):
                parquet_writes.append(f"{rel}:{node.lineno}")
    assert parquet_writes == []
    assert writers == [(os.path.join("olympian_spark", "session.py"), "format")]
