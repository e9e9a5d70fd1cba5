"""The driver captures only the last ~2000 chars of bench stdout; a final
compact line that outgrows it comes back `parsed: null` and the round loses
its round-over-round comparison. These tests render the final line from a
detail record a real ``bench.py`` run wrote (committed as
``tests/fixtures/bench_detail.json``; the run's own BENCH_DETAIL.json is
not tracked) via the same pure function bench.py prints through, and check
the two things bench.py derives without Spark: the timed series and the
previous same-host record."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from apache_beam_challange_spark.plans import registry  # noqa: E402

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


def test_headline_untimed_and_series_partition_the_registry():
    registry.load_all()
    groups = bench.series(registry.QUERIES)
    members = [n for names in groups.values() for n in names]
    timed, headline, untimed = set(members), set(bench.HEADLINE), bench.UNTIMED
    assert len(members) == len(timed), "a query sits in two series"
    assert len(bench.HEADLINE) == len(headline) == 15
    assert not headline & untimed and not headline & timed and not untimed & timed
    assert untimed <= set(registry.QUERIES), (
        f"stale UNTIMED names: {sorted(untimed - set(registry.QUERIES))}"
    )
    assert headline | untimed | timed == set(registry.QUERIES)


def _record(root, name, **rec):
    with open(os.path.join(root, name), "w") as f:
        json.dump(rec, f)


def test_previous_record_is_newest_same_cpus_and_sf(tmp_path):
    root = str(tmp_path)
    parsed = {"queries": {"q1_sql_top_pairs": 1.0}}
    _record(root, "BENCH_r01.json", n=1, cpus=4, sf=0.1, parsed=parsed)
    _record(root, "BENCH_r02.json", n=2, cpus=4, sf=0.1, parsed=parsed)
    _record(root, "BENCH_r03.json", n=3, cpus=32, sf=0.1, parsed=parsed)
    _record(root, "BENCH_r03_c4.json", n=3, cpus=4, sf=0.01, parsed=parsed)
    _record(root, "BENCH_r04.json", n=4, cpus=4, sf=0.1, parsed=None)
    # a crashed run parses a log line, not a bench record
    _record(root, "BENCH_r05.json", n=5, cpus=4, sf=0.1, parsed={"msg": "x"})
    assert bench.previous_record(root, 4, 0.1) == ("BENCH_r02.json", parsed)
    assert bench.previous_record(root, 8, 0.1) is None
    assert bench.previous_record(str(tmp_path / "empty"), 4, 0.1) is None


def test_final_line_carries_vs_prev():
    d = _detail()
    d["vs_prev"], d["prev"] = None, None
    rec = json.loads(bench.compact_line(d))
    assert rec["vs_prev_max"] is None and rec["prev"] is None
    d["vs_prev"] = {"q1_sql_top_pairs": 0.9, "q4_total_distance": 1.2}
    d["prev"] = "BENCH_r02.json"
    rec = json.loads(bench.compact_line(d))
    assert rec["vs_prev_max"] == 1.2 and rec["prev"] == "BENCH_r02.json"
