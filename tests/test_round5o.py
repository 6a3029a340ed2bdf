"""Unit/edge coverage for text_code_screen. Oracle gate in
test_oracle_parity.py; the fixture is prose, so the code-positive
path is pinned here on planted code-like docs."""

from __future__ import annotations

from fixture_tables import write_documents


def test_code_screen_flags_code_not_prose(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import text_code_screen

    code = "def f(x):\n    y = x[0]\n    return {1: y};\n    pass"
    prose = ("the quick brown fox jumps over the lazy dog and keeps "
             "running through the quiet field all afternoon long")
    sf = write_documents(spark, tmp_path, [
        (0, code, "en", "code", len(code)),
        (1, prose, "en", "prose", len(prose)),
    ])
    out = {r["source"]: r for r in text_code_screen(spark, sf).collect()}
    assert out["code"]["n_code"] == 1
    assert out["prose"]["n_code"] == 0
    assert out["code"]["sym_share_s"] > out["prose"]["sym_share_s"]
    assert out["prose"]["n_sym"] == 0


def test_code_screen_indent_rule_alone(spark, tmp_path):
    # No symbols at all, but 3+ lines mostly indented -> code via the
    # indent-regularity rule.
    from dataingestionengineprocess_spark.queries.text import text_code_screen

    doc = "start\n  one\n  two\n  three"
    sf = write_documents(spark, tmp_path, [(0, doc, "en", "s", len(doc))])
    r = text_code_screen(spark, sf).collect()[0]
    assert r["n_code"] == 1
    assert r["indent_share_s"] == 0.75
