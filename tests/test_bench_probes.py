"""Bench plumbing run in every benchmark round: envelope gate, drift probes,
sf1 probe, compact line.

bench.py's per-class drift probes and the sf1 scaling probe execute only
inside the driver's bench run, so a wiring break would surface as a
missing BENCH block instead of a red test. These smoke the pieces at
sf0.001 (seconds, not the sf0.1 minutes the real bench pays). The gate and
compact-line tests need no Spark session (`make test-smoke` runs them).
"""

from __future__ import annotations

import pytest

import bench

SF_DIR = "/root/testdata/sf0.001"


def test_class_probes_return_positive_walls(spark):
    walls = bench.run_class_probes(spark, SF_DIR)
    assert set(walls) == {"shuffle", "cpu"} == set(bench.PROBE_ANCHOR)
    assert all(isinstance(v, float) and v > 0 for v in walls.values())


@pytest.mark.slow  # full-tier: `make test-full` (r16 two-tier split)
def test_sf1_scaling_fabricates_and_measures(spark):
    """The sf1 probe fabricates the amplified corpus and produces a
    wall + rows + exponent row per probed query (one fast query here;
    the real run probes all of SF1_QUERIES at sf0.1)."""
    res = bench.run_sf1_scaling(spark, SF_DIR, {"q97h_bm25_topk": 1.0})
    assert res["amplification"] == 10
    row = res["queries"]["q97h_bm25_topk"]
    assert row["sf1_sec"] > 0 and row["rows_sf1"] >= row["rows_sf01"] > 0
    assert "exponent" in row and "rows_ratio" in row
    # the other registry queries were skipped (no base time supplied);
    # extra probe-only twins always run and time their own base
    assert set(res["queries"]) == {"q97h_bm25_topk", "q99q_banded_linear"}
    lin = res["queries"]["q99q_banded_linear"]
    assert lin["sf01_sec"] > 0 and lin["sf1_sec"] > 0
    # constant cluster size: true pair count grows ~linearly (10x data
    # -> ~10x rows), NOT quadratically like q99q's 160-image fixture
    assert lin["rows_ratio"] <= 15, lin
    for name in bench.SF1_QUERIES:
        assert name in bench.HEADLINE, f"{name} probed but not a headline query"
    for name in bench.SF1_EXTRA_PROBES:
        assert name not in bench.HEADLINE  # probe-only, not a headline entry


def test_compact_line_fits_driver_tail_window():
    """The driver parses bench's LAST stdout line from a 2000-byte tail;
    build_compact_line must stay under that against the committed full
    artifact (and degrade by dropping per-query detail, never clipping)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "bench_full_latest.json")
    full = json.load(open(path))
    line = bench.build_compact_line(full)
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert "e2e_1m_pinned_r13_ops_per_sec" in parsed
    # app-mode 1M pin (tools/app_load.py): must ride along with the rig pin
    # and carry its vs-rig ratio so the compact line proves the composed
    # entrypoint holds rig throughput
    assert parsed["app_1m_pinned_r14_ops_per_sec"] == bench.APP_SCALE_1M["value"]
    assert parsed["app_1m_pinned_r14_vs_rig"] == bench.APP_SCALE_1M["vs_rig_ratio"]
    assert "sf1_exponent_max" in parsed
    # degradation path: an absurdly wide queries dict still fits
    wide = dict(full, queries={f"q{i:03d}_padpadpad": 1.234 for i in range(200)})
    line2 = bench.build_compact_line(wide)
    assert len(line2) < 2000
    assert json.loads(line2)["queries"] == {"_see": "bench_full_latest.json"}


def test_gate_replays_every_committed_bench_verdict():
    """The raw 2x gate reproduces the recorded envelope_ok of every
    committed BENCH_r*.json that carries a parsed line (r01-r04 predate the
    field; every headline query then sat within 2x, so True)."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(repo, "BENCH_r*.json")))
    replayed = 0
    for path in paths:
        parsed = json.load(open(path)).get("parsed")
        if not parsed:
            continue  # r07: the artifact holds no parsed compact line
        times = parsed["queries"]
        assert bench.reference_ratios(times), path
        assert bench.envelope_ok(times) == parsed.get("envelope_ok", True), (
            os.path.basename(path), bench.envelope_violators(times)
        )
        replayed += 1
    assert replayed >= 17


def test_gate_flags_query_regression_under_uniform_host_drift():
    """A host 1.5x slower across the board plus one query at 2.5x its
    reference: median normalization would read that query as 1.67x and
    pass it; the raw gate flags exactly that query."""
    times = {n: 1.5 * ref for n, ref in bench.REFERENCE.items()}
    times["q97h_bm25_topk"] = 2.5 * bench.REFERENCE["q97h_bm25_topk"]
    times["q98l_bpe_train_apply"] = 99.0  # no reference row: not gated
    assert bench.envelope_violators(times) == ["q97h_bm25_topk"]
    assert not bench.envelope_ok(times)
    del times["q97h_bm25_topk"]
    assert bench.envelope_ok(times)
