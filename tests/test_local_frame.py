"""`session.local_frame`: driver-known rows built JVM-side.

Round-trip properties the control-plane writers (`_runs`, the file
ledger, `_stream_progress`) rely on -- the result schema IS the DDL's
StructType and the collected rows ARE the input -- plus source
checks that keep list-built frames off the per-run paths and give
Hadoop FileSystem handles and keep-latest windows one home each.
"""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import types as T

from dataingestionengineprocess_spark.session import local_frame

ALL_TYPES = "s string, l long, i int, d double, b boolean"


@pytest.mark.parametrize("rows", [
    [],
    [(None, None, None, None, None)],
    [("x", 2 ** 40, -7, 1.5, True), (None, None, None, None, None),
     ("", 0, 0, -0.25, False)],
], ids=["empty", "all-null", "mixed"])
def test_round_trip_rows_and_schema(spark, rows):
    df = local_frame(spark, rows, ALL_TYPES)
    want = T.StructType.fromDDL(ALL_TYPES)
    assert df.schema == want
    # the JVM-side schema too, not only the Python-side cached copy
    assert T.StructType.fromJson(json.loads(df._jdf.schema().json())) == want
    assert [tuple(r) for r in df.collect()] == rows


def test_struct_type_schema_keeps_names_and_nullability(spark):
    schema = T.StructType([
        T.StructField("raw_record", T.StringType(), True),
        T.StructField("n", T.LongType(), False),
    ])
    df = local_frame(spark, [("a", 1)], schema)
    assert df.schema == schema
    assert df.collect()[0].asDict() == {"raw_record": "a", "n": 1}


def test_landing_sweep_scale_listing(spark):
    """A 10,000-file listing (one landing sweep at scale) round-trips
    intact and joins like any other frame."""
    rows = [(f"file:/landing/part-{i:05d}.csv", 1000 + i,
             1_700_000_000_000 + i) for i in range(10_000)]
    df = local_frame(spark, rows, "path string, size long, mtime_ms long")
    assert df.schema == T.StructType.fromDDL(
        "path string, size long, mtime_ms long")
    assert sorted(tuple(r) for r in df.collect()) == rows
    probe = local_frame(spark, rows[::1000],
                        "path string, size long, mtime_ms long")
    semi = df.join(probe, ["path", "size", "mtime_ms"], "left_semi")
    assert semi.count() == 10


def test_rejects_rows_of_the_wrong_width(spark):
    with pytest.raises(ValueError, match="2 fields"):
        local_frame(spark, [("a", 1), ("b",)], "s string, l long")


PKG = (pathlib.Path(__file__).resolve().parent.parent
       / "dataingestionengineprocess_spark")


def _lines_with(needle: str, files) -> list[str]:
    """``file:line`` of every line in ``files`` that contains ``needle``."""
    return [
        f"{f.relative_to(PKG)}:{n}"
        for f in sorted(files)
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if needle in line
    ]


def test_no_list_built_frames_in_the_package():
    """The package builds driver-known frames through `local_frame`
    only: a `createDataFrame(` call anywhere but `session.py` (where
    `local_frame` itself lives) would put a Python-worker job back on
    the path that builds it -- an ingest run, an operator's centroid
    or offset table, a certificate's result rows."""
    offenders = _lines_with(
        "createDataFrame(",
        (f for f in PKG.rglob("*.py") if f != PKG / "session.py"),
    )
    assert not offenders, offenders


@pytest.mark.parametrize("call", [
    ".localCheckpoint(", ".persist(", ".cache()", ".unpersist(",
])
def test_intermediates_materialize_through_session_only(call):
    """The package materializes and releases intermediates through
    `session.checkpoint` and `session.cached` only: a direct call
    anywhere but `session.py` would submit jobs no step names, or hold
    a cache that no scope releases."""
    offenders = _lines_with(
        call, (f for f in PKG.rglob("*.py") if f != PKG / "session.py"))
    assert not offenders, offenders


def test_filesystem_handles_and_keep_latest_windows_have_one_home():
    """Every Hadoop FileSystem handle comes from `objectstore.hadoop_fs`
    (one line in the package calls ``getFileSystem(``), and the ingest
    core and sinks keep latest rows through `operators.dedup.dedup_exact`
    and the shared merge core rather than hand-written windows."""
    import inspect

    from dataingestionengineprocess_spark.objectstore import hadoop_fs

    calls = _lines_with("getFileSystem(", PKG.rglob("*.py"))
    assert len(calls) == 1 and calls[0].startswith("objectstore.py:"), calls
    assert "getFileSystem(" in inspect.getsource(hadoop_fs)
    windows = _lines_with(
        "row_number().over",
        [PKG / "pipeline.py", *(PKG / "sinks").rglob("*.py")],
    )
    assert not windows, windows


#: Per-row aggregates over a whole vector: evaluated inside a
#: ``transform`` lambda they are re-folded once per element.
_ROW_AGGREGATES = {"l2_norm", "sq_norm"}


def _per_element_aggregates(source: str) -> list[str]:
    """``transform(`` lambdas in ``source`` that call a per-row
    aggregate or read a local bound to one (``n = l2_norm(a)`` then
    ``transform(a, lambda x: x / n)``) -- the O(d^2) form."""
    import ast

    def callee(node) -> str | None:
        return (getattr(node.func, "attr", getattr(node.func, "id", None))
                if isinstance(node, ast.Call) else None)

    def calls_aggregate(node) -> bool:
        return any(callee(c) in _ROW_AGGREGATES for c in ast.walk(node))

    found = set()
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        bound = {
            t.id
            for a in ast.walk(fn)
            if isinstance(a, ast.Assign) and calls_aggregate(a.value)
            for t in a.targets if isinstance(t, ast.Name)
        }
        for call in ast.walk(fn):
            if callee(call) != "transform":
                continue
            for lam in call.args:
                if isinstance(lam, ast.Lambda) and (
                        calls_aggregate(lam.body)
                        or any(isinstance(n, ast.Name) and n.id in bound
                               for n in ast.walk(lam.body))):
                    found.add(f"line {call.lineno}")
    return sorted(found)


def test_vector_helpers_fold_no_norm_per_element():
    """`functions/vectors.py` never puts a per-row norm inside a
    ``transform`` lambda (the check itself flags both spellings)."""
    assert _per_element_aggregates(
        "def f(a):\n    n = l2_norm(a)\n"
        "    return F.transform(a, lambda x: x / n)\n")
    assert _per_element_aggregates(
        "def f(a):\n    return F.transform(a, lambda x: x / sq_norm(a))\n")
    src = (pathlib.Path(__file__).resolve().parent.parent
           / "dataingestionengineprocess_spark" / "functions"
           / "vectors.py").read_text()
    assert not _per_element_aggregates(src)
