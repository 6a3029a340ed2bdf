"""Unit/edge coverage for round-5k (audio silence, struct battery).
Oracle gate in test_oracle_parity.py; silence runs are pinned here on
planted waveforms whose run structure is known exactly."""

from __future__ import annotations

from fixture_tables import write_documents


def test_silence_planted_runs(spark, tmp_path):
    # doc 0 (n = 64 samples): text cycle 'aaXXaX' -- 'a' (|amp| 5120)
    # is silent, 'X' (|amp| 3328)... choose loud chars carefully:
    # 'a' -> (97-77)*256 = 5120 < 6400 silent; 'z' -> 6400*... =
    # (122-77)*256 = 11520 loud. Pattern 'aazzaz' of length 6 cycles
    # through 64 samples; runs of silent = the 'aa' and 'a' positions.
    from dataingestionengineprocess_spark.queries.multimodal import (
        multimodal_audio_silence,
    )

    sf = write_documents(spark, tmp_path, [(0, "aazzaz", "en", "s", 6)])
    r = multimodal_audio_silence(spark, sf).collect()[0]
    # 64 samples over pattern (len 6): full cycles 10 + 4 extra
    # ('a','a','z','z'). silent per cycle = 3 -> 10*3 + 2 = 32
    assert r["n_samples"] == 64
    assert r["n_silent"] == 32
    # runs: each cycle contributes 'aa' run and 'a' run, but the 'a'
    # at position 4 (cycle i) is followed by 'z' then next cycle's
    # 'aa' -- runs stay separated by 'z's; the trailing 'aa' extra
    # merges with nothing. segments = 10*2 + 1 = 21, longest = 2
    assert r["n_segments"] == 21
    assert r["longest_run"] == 2
    assert r["silence_ratio_s"] == 0.5


def test_silence_all_loud_and_all_silent(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.multimodal import (
        multimodal_audio_silence,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "zzzz", "en", "s", 4),   # all loud: 0 segments
        (1, "abab", "en", "s", 4),   # all silent: 1 run of n
    ])
    out = {r["doc_id"]: r
           for r in multimodal_audio_silence(spark, sf).collect()}
    assert out[0]["n_segments"] == 0
    assert out[0]["longest_run"] == 0
    assert out[0]["silence_ratio_s"] == 0.0
    assert out[1]["n_segments"] == 1
    assert out[1]["longest_run"] == out[1]["n_samples"] == 65
    assert out[1]["silence_ratio_s"] == 1.0


def test_struct_battery_values(spark, sf_dir):
    # Every part <= 40 yields exactly two rows: pos 0 carries the real
    # (brand, size) through struct ops, pos 1 the ZZZ sentinel.
    from dataingestionengineprocess_spark.queries.scalar import (
        scalar_struct_funcs,
    )
    from dataingestionengineprocess_spark.catalog import load
    from pyspark.sql import functions as F

    out = scalar_struct_funcs(spark, sf_dir).collect()
    parts = {r["p_partkey"]: {} for r in out}
    for r in out:
        parts[r["p_partkey"]][r["pos"]] = r
    ref = {r["p_partkey"]: (r["p_brand"], r["p_size"])
           for r in load(spark, sf_dir, "part")
           .where(F.col("p_partkey") <= 40).collect()}
    assert set(parts) == set(ref)
    for pk, rows in parts.items():
        assert rows[0]["brand_out"] == ref[pk][0]
        assert rows[0]["size_out"] == ref[pk][1]
        assert rows[1]["brand_out"] == "ZZZ"
        assert rows[1]["size_out"] == ref[pk][1] + 1
