"""The driver archives only the LAST 2000 CHARS of bench stdout and
parses the final line as JSON. BENCH_r12.json archived parsed:null
because the 36-row queries + queries_median line grew to ~2,130 chars.
bench.py now (a) keeps only driver-needed fields on stdout and (b)
hard-asserts len(line) < 1800 at runtime. This test replays the exact
line construction with worst-case values so the budget is checked at
pytest time — BEFORE a 30-minute bench run trips the runtime assert.
"""

import json

import bench


def _simulated_line(headline: list[str]) -> str:
    # worst-case widths: 3-digit seconds with 2 decimals per query,
    # 4-digit total, loud flags (longest literal spellings)
    best = {name: 999.99 for name in headline}
    return json.dumps({
        "metric": "headline_queries_total_sec",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "measure": "noop_write",
        "queries": {k: round(v, 2) for k, v in best.items()},
        "n_passes": 3,
        "load1_warn": False,
        "usable": False,
        "ambient_load1": 99.99,
        "load1_max_pass": 99.99,
        "steal_pct_max": 99.99,
        "other_runnable_max": 999,
        "sf": 0.1,
    }, separators=(",", ":"))


def test_stdout_line_fits_driver_capture():
    line = _simulated_line(bench.HEADLINE)
    assert len(line) < 1800, (
        f"simulated bench stdout line is {len(line)} chars with "
        f"{len(bench.HEADLINE)} headline rows; the driver tail capture "
        "holds 2000 and bench.py asserts <1800 — slim the line or move "
        "fields to stderr before adding more rows")


def test_headroom_for_future_rows():
    # adding rows must not silently eat the whole budget: require space
    # for at least 5 more rows with typically-long names
    padded = bench.HEADLINE + [f"future_operator_name_{i}" for i in range(5)]
    assert len(_simulated_line(padded)) < 1800
