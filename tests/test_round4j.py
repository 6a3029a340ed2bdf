"""Unit/edge coverage for the round-4j queries (PCA + encoding
screen). The oracle gate lives in test_oracle_parity.py; this file
drives the analytic edges: a planted dominant direction recovered by
the power iteration, unit-norm loadings, explained-variance bounds,
and hand-planted mojibake/control characters.
"""

from __future__ import annotations

import math

from fixture_tables import write_documents, write_embeddings


def _embeddings(spark, tmp_path, vecs):
    return write_embeddings(
        spark, tmp_path,
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)])


# --- PCA ---------------------------------------------------------------------


def test_pca_recovers_planted_direction(spark, tmp_path):
    # Variance lives on dim 0 only: vectors +/-t * e0 (+ tiny constant
    # elsewhere). The top component must align with e0 and explain
    # ~all the variance.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_pca_power_portable,
    )

    dim = 64
    vecs = []
    for t in (-2.0, -1.0, 1.0, 2.0):
        v = [0.001] * dim
        v[0] = t
        vecs.append(v)
    out = ml_pca_power_portable(spark, _embeddings(spark, tmp_path, vecs)
                                ).collect()
    assert len(out) == 64
    by_d = {r["d"]: r for r in out}
    assert abs(abs(by_d[0]["loading_s"]) - 1.0) < 1e-3
    for d in range(1, dim):
        assert abs(by_d[d]["loading_s"]) < 1e-3
    assert by_d[0]["explained_s"] > 0.999
    # lambda = population variance along e0: mean 0, E[x^2] = 2.5
    assert abs(by_d[0]["lambda_s"] - 2.5) < 1e-3


def test_pca_loadings_unit_norm_and_constant_stats(spark, tmp_path):
    # Generic anisotropic data: the loading vector is unit-norm (to
    # snap tolerance), lambda <= trace, and the stats columns are
    # constant across rows.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_pca_power_portable,
    )

    dim = 64
    vecs = []
    for k in range(8):
        v = [math.sin(0.1 * (k + 1) * (d + 1)) * (1.0 + 0.2 * d / dim)
             for d in range(dim)]
        vecs.append(v)
    out = ml_pca_power_portable(spark, _embeddings(spark, tmp_path, vecs)
                                ).collect()
    norm = sum(r["loading_s"] ** 2 for r in out)
    assert abs(norm - 1.0) < 1e-3
    assert len({r["lambda_s"] for r in out}) == 1
    assert len({r["explained_s"] for r in out}) == 1
    r0 = out[0]
    assert 0.0 < r0["explained_s"] <= 1.0
    assert r0["lambda_s"] > 0.0


def test_pca_isotropic_two_dim_split(spark, tmp_path):
    # Equal variance planted on dims 0 and 1, none elsewhere:
    # explained ratio ~ 1/2 regardless of which direction the
    # iteration converges to.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_pca_power_portable,
    )

    dim = 64
    vecs = []
    for (a, b) in ((1.0, 0.0), (-1.0, 0.0), (0.0, 1.0), (0.0, -1.0)):
        v = [0.0] * dim
        v[0], v[1] = a, b
        vecs.append(v)
    out = ml_pca_power_portable(spark, _embeddings(spark, tmp_path, vecs)
                                ).collect()
    assert abs(out[0]["explained_s"] - 0.5) < 0.01


# --- mojibake screen ---------------------------------------------------------


def test_mojibake_planted_artifacts_counted(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import (
        text_mojibake_screen,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "clean ascii text", "en", "good", 16),
        (1, "bad � char � here", "en", "bad", 18),
        (2, "cafÃ© naÃ¯ve", "en", "bad", 10),
        (3, "ctrlhere", "en", "ctrl", 10),
    ])
    out = {r["source"]: r for r in text_mojibake_screen(spark, sf).collect()}
    assert out["good"]["repl_chars"] == 0
    assert out["good"]["latin1_chars"] == 0
    assert out["good"]["ctrl_chars"] == 0
    assert out["good"]["nonascii_ratio_s"] == 0.0
    assert out["good"]["suspect_docs"] == 0
    assert out["bad"]["repl_chars"] == 2
    assert out["bad"]["latin1_chars"] == 2  # the two U+00C3 leads
    assert out["bad"]["suspect_docs"] == 2
    assert out["ctrl"]["ctrl_chars"] == 2
    assert out["ctrl"]["suspect_docs"] == 1


def test_mojibake_nonascii_ratio_exact(spark, tmp_path):
    # 2 non-ASCII of 10 chars -> ratio 0.2 exactly.
    from dataingestionengineprocess_spark.queries.text import (
        text_mojibake_screen,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "abcdéfghüj", "en", "s", 10)])
    r = text_mojibake_screen(spark, sf).collect()[0]
    assert r["nonascii_ratio_s"] == 0.2
    # U+00E9/U+00FC are non-ASCII but NOT mojibake leads
    assert r["latin1_chars"] == 0 and r["suspect_docs"] == 0


def test_mojibake_empty_text_guarded(spark, tmp_path):
    # A source whose only doc is empty: ratio NULL (0/0 guarded),
    # counts zero.
    from dataingestionengineprocess_spark.queries.text import (
        text_mojibake_screen,
    )

    sf = write_documents(spark, tmp_path, [(0, "", "en", "empty", 0)])
    r = text_mojibake_screen(spark, sf).collect()[0]
    assert r["n_docs"] == 1 and r["repl_chars"] == 0
    assert r["nonascii_ratio_s"] is None


def test_pca_identical_embeddings_degenerate_guard(spark, tmp_path):
    # Zero covariance everywhere: the normalize guard keeps v0, the
    # eigenvalue is 0, and explained is NULL (trace 0) -- no
    # ZeroDivisionError.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_pca_power_portable,
    )

    vecs = [[0.5] * 64 for _ in range(4)]
    out = ml_pca_power_portable(spark, _embeddings(spark, tmp_path, vecs)
                                ).collect()
    assert len(out) == 64
    assert all(r["loading_s"] == 0.125 for r in out)  # v0 kept
    assert all(r["lambda_s"] == 0.0 for r in out)
    assert all(r["explained_s"] is None for r in out)


def test_quantized_covariance_duplicate_id_consistent(spark):
    # ADVICE r4: n used countDistinct(id) while the sums aggregated
    # every row, so a duplicated id doubled the means but not n.
    # Counting n over the SAME rows as the sums makes covariance
    # invariant under uniform duplication of the corpus.
    from dataingestionengineprocess_spark.operators.quantize import (
        quantized_covariance,
    )

    vecs = [(1, [1.0, 2.0]), (2, [3.0, -1.0]), (3, [0.5, 4.0])]
    base = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>")
    doubled = base.union(base)  # every id appears twice
    one = {(r["i"], r["j"]): r["cov_s"]
           for r in quantized_covariance(
               base, "vec_id", "embedding").collect()}
    two = {(r["i"], r["j"]): r["cov_s"]
           for r in quantized_covariance(
               doubled, "vec_id", "embedding").collect()}
    assert one == two
    # and the diagonal is the plain population variance of each dim
    xs = [v[0] for _, v in vecs]
    mu = sum(xs) / len(xs)
    var = sum((x - mu) ** 2 for x in xs) / len(xs)
    assert math.isclose(one[(1, 1)], var, abs_tol=2e-6)


def test_quantized_covariance_nonuniform_duplicate_ids(spark):
    # ADVICE r5: joining the X^T X self-join on id_col paired dims
    # ACROSS duplicate-id rows (n_pair = sum m_id^2 vs the mean's
    # n = sum m_id), so NON-uniform duplication skewed cov relative
    # to the mean normalization. The per-row observation key makes
    # each row one observation: the result must equal numpy's
    # population covariance over the rows, regardless of id reuse.
    import numpy as np

    from dataingestionengineprocess_spark.operators.quantize import (
        quantized_covariance,
    )

    rows = [(1, [1.0, 2.0]), (1, [1.0, 2.0]), (1, [1.0, 2.0]),
            (2, [3.0, -1.0]), (3, [0.5, 4.0]), (3, [-2.0, 0.25])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["i"], r["j"]): r["cov_s"]
           for r in quantized_covariance(df, "vec_id", "embedding")
           .collect()}
    x = np.array([v for _, v in rows])
    want = np.cov(x, rowvar=False, bias=True)
    for (i, j), v in got.items():
        assert math.isclose(v, want[i - 1][j - 1], abs_tol=2e-6), (i, j)
    assert len(got) == 4
