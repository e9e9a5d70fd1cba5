"""The driver captures only the last ~2000 chars of bench stdout; a final
compact line that outgrows it comes back `parsed: null` and the round loses
its round-over-round comparison (BENCH_r12 did exactly that — VERDICT r13
#4 asks for this pin). These tests render the final line from a detail
record a real ``bench.py`` run wrote (committed as
``tests/fixtures/bench_detail.json``; the run's own BENCH_DETAIL.json is
not tracked) via the same pure function bench.py prints through,
worst-cased with the maximum plausible pin load."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: hard budget, below the driver's 2000-char tail capture with slack for
#: a trailing newline and a few extra stdout bytes
MAX_LINE = 1600


def _detail() -> dict:
    with open(os.path.join(REPO, "tests", "fixtures", "bench_detail.json")) as f:
        return json.load(f)


def test_final_line_fits_driver_tail_capture():
    line = bench.compact_line(_detail())
    assert len(line) <= MAX_LINE, (
        f"final bench line is {len(line)} chars (> {MAX_LINE}); the driver's "
        "2000-char tail capture will truncate it and BENCH parsing goes dark"
    )
    json.loads(line)  # stays one well-formed JSON object


def test_final_line_fits_with_worst_case_pins():
    d = _detail()
    # worst plausible pin load: four standing pins with long names (the
    # r13 raw-firing set) — each rides the line twice (list + dict)
    pins = [
        "gini_revenue_inequality",
        "kcore_part_graph",
        "ngram_novelty_by_source",
        "shapley_attribution",
    ]
    d["pins_fired"] = pins
    d["pins_adjudicated"] = {n: 9.99 for n in pins}
    line = bench.compact_line(d)
    assert len(line) <= MAX_LINE, (
        f"final bench line with 4 standing pins is {len(line)} chars "
        f"(> {MAX_LINE})"
    )


def test_final_line_carries_driver_contract_fields():
    rec = json.loads(bench.compact_line(_detail()))
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["unit"] == "sec"
    # the frozen 15-query headline roster never shrinks or renames
    for name in bench.HEADLINE:
        assert name in rec["queries"], f"headline query {name} missing"
    # the scaling canary rides in queries but NOT in value (continuity)
    assert "scaling_canary" in rec["queries"]
    total = round(sum(rec["queries"][n] for n in bench.HEADLINE), 3)
    assert abs(rec["value"] - total) < 0.005
    assert "parallelism" in rec and "shuffle_partitions" in rec


def test_scaling_canary_runs_under_ansi(spark):
    """The canary's checksum must not overflow a long sum under
    spark.sql.ansi.enabled=true (Spark 4's default)."""
    n = 200_000
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        rows = bench._scaling_canary(spark, n).collect()
    finally:
        spark.conf.set(key, prev)
    assert sum(r.c for r in rows) == n
    assert all(0 <= r.s < r.c << 20 for r in rows)
