"""Property test: the value-bucketed two-pass prefix-sum selection in
`curation_token_budget_select` agrees with a brute-force Python
reference on arbitrary generated corpora -- hypothesis drives the
cases the fixture never hits: equal densities (same text, different
ids), densities landing exactly on bucket boundaries (1/64ths), docs
straddling the budget cut, and single-token documents."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# words drawn from a 4-symbol alphabet concentrate densities onto a
# few exact rationals (1/2, 2/3, ...), maximizing tie and
# bucket-boundary collisions
WORD = st.sampled_from(["a", "b", "c", "d"])
DOC = st.lists(WORD, min_size=1, max_size=8).map(" ".join)


@st.composite
def corpus(draw):
    texts = draw(st.lists(DOC, min_size=1, max_size=14))
    return [
        (i, t, "en", "s%d" % (i % 3), len(t))
        for i, t in enumerate(texts)
    ]


def _reference(rows, fraction=0.3):
    """Brute force: one global order, one running sum, prefix rule."""
    feats = []
    for doc_id, text, _lang, source, _nc in rows:
        toks = text.split(" ")
        n_tok, n_dist = len(toks), len(set(toks))
        feats.append((doc_id, source, n_tok, n_dist / n_tok))
    budget = int(fraction * sum(f[2] for f in feats))
    feats.sort(key=lambda f: (-f[3], f[0]))
    out, cum = {}, 0
    for doc_id, source, n_tok, dens in feats:
        cum += n_tok
        if cum <= budget:
            n, t = out.get(source, (0, 0))
            out[source] = (n + 1, t + n_tok)
    return out


@given(corpus())
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_budget_matches_reference(spark, tmp_path_factory, case):
    from dataingestionengineprocess_spark.queries.curation import (
        curation_token_budget_select,
    )

    sf = str(tmp_path_factory.mktemp("tbsel"))
    spark.createDataFrame(
        case,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {r["source"]: (r["n_selected"], r["sel_tokens"])
           for r in curation_token_budget_select(spark, sf).collect()}
    assert got == _reference(case)
