"""Self-test of the benchmark's own gate and output.

    python3 perfbench/selftest.py

Checks, without Spark, that the gate accepts a matching result and rejects
a planted wrong value, a missing hotel and a wrong row count, and that the
result line carries every metric of BENCHMARK.json with its unit. Then runs
one tiny stream through ``run.main`` with a planted wrong expected value
and checks that it prints every metric, reports the failure and exits
non-zero. Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import fixtures  # noqa: E402
import gate  # noqa: E402
import run  # noqa: E402

TINY = fixtures.StreamShape(lat=1.0, lng=1.0, files=12, rows_per_file=200, hotels=300)


def _declared() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def check_gate() -> None:
    rng = random.Random(7)
    files = fixtures.weather_records(rng, TINY)
    hotels = fixtures.hotel_records(rng, TINY)
    expected = gate.expected_enrichment([r for f in files for r in f], hotels)
    assert expected, "the tiny fixture must enrich some hotels"
    assert gate.compare_enrichment(dict(expected), expected) == []

    hid = sorted(expected)[0]
    row = expected[hid]
    (f, c, d), *rest = row[5]
    planted = dict(expected)
    planted[hid] = row[:5] + (((f * (1 + 1e-6), c, d), *rest),)
    assert gate.compare_enrichment(planted, expected), "a wrong average must fail"

    within = dict(expected)
    within[hid] = row[:5] + (((f * (1 + 1e-12), c, d), *rest),)
    assert gate.compare_enrichment(within, expected) == [], "summation order is tolerated"

    missing = {k: v for k, v in expected.items() if k != hid}
    assert gate.compare_enrichment(missing, expected), "a missing hotel must fail"
    assert gate.compare_count("x", 3, 4) and not gate.compare_count("x", 4, 4)


def check_result_line() -> None:
    e2e, per_layer = _declared()
    assert e2e == run.END_TO_END, "BENCHMARK.json and run.py disagree on end-to-end metrics"
    assert per_layer == run.PER_LAYER, "BENCHMARK.json and run.py disagree on per-layer metrics"
    res = {"attempted": 3, "failed": 0, "metrics": {k: 1.5 for k in e2e}, "layers": {}}
    for trace, names in ((False, e2e), (True, per_layer)):
        line = json.loads(run.result_line(res, trace))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == names


def check_planted_run() -> None:
    """A whole tiny run whose expected output is wrong must fail the gate."""
    real = gate.expected_enrichment

    def wrong(weather, hotels):
        out = real(weather, hotels)
        hid = sorted(out)[0]
        out[hid] = out[hid][:4] + ("not " + out[hid][4],) + out[hid][5:]
        return out

    shape = fixtures.LOWCARD
    fixtures.LOWCARD, gate.expected_enrichment = TINY, wrong
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            rc = run.main(["--workload", "stream_lowcard", "--seed", "3", "--seconds", "3", "--trace", "0"])
    finally:
        fixtures.LOWCARD, gate.expected_enrichment = shape, real
    line = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rc != 0, "a planted wrong expected value must make the run exit non-zero"
    assert line["correct"] is False and line["failed"] > 0
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.END_TO_END


def main() -> int:
    for check in (check_gate, check_result_line, check_planted_run):
        check()
        print(f"ok  {check.__name__}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
