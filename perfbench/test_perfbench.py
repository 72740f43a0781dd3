"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import genraw  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


def test_generator_is_byte_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    facts_a = genraw.generate(str(a), 11, listings_per_city=60)
    facts_b = genraw.generate(str(b), 11, listings_per_city=60)
    genraw.generate(str(c), 12, listings_per_city=60)
    assert _digest(str(a)) == _digest(str(b))
    assert facts_a == facts_b
    assert _digest(str(a)) != _digest(str(c))
    names = sorted(os.listdir(a / "day1"))
    assert len(names) == facts_a["day1"]["files"] == 6
    assert all(n.endswith(".csv.gz") and n.count("_") == 3 for n in names)


def test_generator_writes_the_messy_distributions(tmp_path):
    import csv
    import gzip

    genraw.generate(str(tmp_path), 5, listings_per_city=200)

    def rows(kind: str, day: str = "day1") -> list[dict]:
        out = []
        for n in sorted(os.listdir(tmp_path / day)):
            if f"_{kind}_" in n:
                with gzip.open(tmp_path / day / n, "rt", newline="") as f:
                    out += list(csv.DictReader(f))
        return out

    listings, calendar, reviews = rows("listings"), rows("calendar"), rows("reviews")
    ids = [r["id"] for r in listings]
    assert any(not i.isdigit() for i in ids)                   # junk ids
    assert any(i.isdigit() and int(i) > 2**63 - 1 for i in ids)  # overflow
    assert len(set(ids)) < len(ids)                            # in-batch dups
    assert any(r["price"].startswith("$") and "," in r["price"]
               and r["price"].endswith("\r") for r in listings)
    assert {" t ", "t\r", "F"} <= {r["available"] for r in calendar}
    assert any(r["date"] == "2025-06-01" for r in calendar)    # a Sunday
    assert any(len(r["host_name"]) > 255 for r in listings)
    assert any(len(r["comments"]) > 4000 for r in reviews)
    review_ids = [r["id"] for r in reviews]
    assert len(set(review_ids)) < len(review_ids)
    delta_ids = {r["id"] for r in rows("reviews", "day2")}
    assert delta_ids & set(review_ids)                         # already loaded


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]                # 1..100
    value, pct, beyond = metrics.tail(samples)
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert sum(s > value for s in samples) == 10
    value, pct, beyond = metrics.tail(samples[:40])
    assert (value, pct, beyond) == (30.0, 75.0, 10)
    # shuffled input gives the same answer
    assert metrics.tail(list(reversed(samples)))[0] == 90.0


def test_tail_with_ten_samples_or_fewer_is_the_maximum():
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert metrics.tail([float(i) for i in range(10)]) == (9.0, 100.0, 0)
    assert metrics.tail([float(i) for i in range(11)]) == (0.0, 100 / 11, 10)
    with pytest.raises(ValueError):
        metrics.tail([])


@pytest.mark.parametrize("trace", [False, True])
def test_every_declared_metric_is_printed_with_its_unit(trace):
    spec = metrics.load_spec()
    declared = spec["per_layer" if trace else "end_to_end"]
    values = {m["name"]: 1.5 for m in declared}
    line = json.loads(metrics.result_line(spec, trace, values, 4, 0, True))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {m["name"]: {"value": 1.5, "unit": m["unit"]}
                               for m in declared}
    with pytest.raises(KeyError):
        metrics.result_line(spec, trace, dict(list(values.items())[1:]),
                            4, 0, True)
    with pytest.raises(KeyError):
        metrics.result_line(spec, trace, {**values, "undeclared": 1.0},
                            4, 0, True)


def test_query_passes_are_seeded_permutations_of_the_panel():
    a = workloads.passes(workloads.SQL_PANEL, 3)
    b = workloads.passes(workloads.SQL_PANEL, 3)
    first_a, first_b = next(a), next(b)
    assert first_a == first_b
    panel = sorted(workloads.SQL_PANEL)
    assert len(set(panel)) == len(panel)
    assert sorted(first_a) == sorted(next(a)) == panel
    other = next(workloads.passes(workloads.SQL_PANEL, 4))
    assert sorted(other) == panel and other != first_a
