"""Tests of the benchmark itself (not of the package it measures).

    python -m pytest perfbench/tests -q

The smoke tests start Spark through ``perfbench/run.py`` at the tiny
input size; together they take a few minutes.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.measure import TAIL_MIN_BEYOND, Tracer, median, tail  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    import pyarrow.parquet as pq

    return {f: hashlib.sha256(pq.read_table(os.path.join(d, f)).to_pandas().to_csv().encode()).hexdigest() for f in sorted(os.listdir(d))}


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    counts = inputs.write_corpus(a, 7, 0.05)
    inputs.write_corpus(b, 7, 0.05)
    inputs.write_corpus(c, 8, 0.05)
    assert set(counts) == {"region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"}
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    # everything random differs across seeds; region and nation are fixed
    assert {k for k in da if da[k] != dc[k]} == set(da) - {"region.parquet", "nation.parquet"}


def test_corpus_plants_the_stated_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_corpus(str(tmp_path), 3, 0.05)
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(texts) == inputs.N_DOCS
    assert len(dups) == round(inputs.N_DOCS * inputs.DUP_SHARE) == 25
    originals = set(texts)
    assert all(t.split(" dup")[0] in originals for t in dups)


def test_price_api_is_a_function_of_the_seed():
    url = "https://www.elprisetjustnu.se/api/v1/prices/2025/03-04_SE3.json"
    assert inputs.SeededPriceApi.from_seed(5)(url) == inputs.SeededPriceApi.from_seed(5)(url)
    assert inputs.SeededPriceApi.from_seed(5)(url) != inputs.SeededPriceApi.from_seed(6)(url)


def test_price_api_closed_form_matches_its_responses():
    api = inputs.SeededPriceApi.from_seed(11)
    day = datetime.date(2025, 7, 9)
    for zone in inputs.ZONES:
        recs = api(f"https://x/api/v1/prices/{day.year}/{day.month:02d}-{day.day:02d}_{zone}.json")
        assert len(recs) == 24
        assert sum(r["SEK_per_kWh"] for r in recs) / 24 == api.avg_price(zone, day)


def test_closed_form_agrees_with_the_lifecycle_oracle():
    """With the lifecycle fixture's parameters (zone i: base 1000 i,
    slope 10, hour step 1) the seeded API answers exactly like
    ``_fixture_fetcher``, and its closed form reproduces the DuckDB
    oracle of ``pipeline_incremental_lifecycle``."""
    import duckdb

    from energi_data_etl_spark.queries import QUERIES
    from energi_data_etl_spark.queries.lifecycle import _fixture_fetcher

    api = inputs.SeededPriceApi(
        {z: 1000 * i for i, z in enumerate(inputs.ZONES, 1)}, dict.fromkeys(inputs.ZONES, 10), dict.fromkeys(inputs.ZONES, 1)
    )
    url = "https://www.elprisetjustnu.se/api/v1/prices/2024/02-03_SE2.json"
    assert api(url) == _fixture_fetcher(url)

    oracle = duckdb.connect().execute(QUERIES["pipeline_incremental_lifecycle"].oracle).df()
    days = [datetime.date(2024, 1, 31) + datetime.timedelta(days=i) for i in range(13)]
    for zone, total in zip(oracle["zone"], oracle["sum_avg_price"]):
        assert round(sum(api.avg_price(zone, d) for d in days), 4) == total


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == TAIL_MIN_BEYOND
    value, pct, n = tail(list(range(1, 21)))
    assert (value, pct, n) == (10, 50.0, 20)
    # n = 37: p = floor(100 * 27 / 37) = 72, the 27th smallest sample
    assert tail(list(range(37))) == (26.0, 72.0, 37)


@pytest.mark.parametrize("n", [1, 5, 19])
def test_tail_falls_back_to_the_median_below_twenty_samples(n):
    xs = list(range(n))
    assert tail(xs) == (median(xs), 50.0, n)


def test_tail_rule_on_shuffled_samples():
    import random

    rng = random.Random(0)
    for n in range(20, 300, 7):
        xs = [rng.random() for _ in range(n)]
        value, pct, _ = tail(xs)
        beyond = sum(x > value for x in xs)
        assert beyond == TAIL_MIN_BEYOND
        assert pct <= 100 * (n - beyond) / n < pct + 1


def test_self_time_excludes_child_spans():
    tr = Tracer()
    tr.op = "op1"
    with tr.span("parent") as p:
        with tr.span("child") as c:
            pass
    self_t = tr.self_times("op1")
    assert self_t["parent"] == pytest.approx((p.end - p.start) - (c.end - c.start))
    assert self_t["parent"] + self_t["child"] == pytest.approx(p.end - p.start)
    tr.enabled = False
    with tr.span("ignored"):
        pass
    assert [s.name for s in tr.spans] == ["parent", "child"]


def _bench(workload: str, trace: int, tmp_path) -> dict:
    spans = tmp_path / "spans.jsonl"
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", "--spans", str(spans)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


@pytest.mark.parametrize("workload", ["etl_daily", "stream_drain", "dashboard_sql", "llm_curation"])
def test_smoke_run_passes_its_output_checks(workload, tmp_path):
    res = _bench(workload, 0, tmp_path)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert sorted(res["metrics"]) == sorted(_declared("end_to_end"))
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", ["etl_daily", "llm_curation"])
def test_traced_smoke_run_reports_every_layer(workload, tmp_path):
    res = _bench(workload, 1, tmp_path)
    assert res["correct"] and res["failed"] == 0
    assert sorted(res["metrics"]) == sorted(_declared("per_layer"))
    layers = {k: v["value"] for k, v in res["metrics"].items()}
    assert layers["exec.jobs"] > 0
    if workload == "etl_daily":
        assert layers["http_json.fetch_calls_per_zone_day"] == 1.0
        assert layers["sinks.watermark_s"] > 0 and layers["pipeline.run_self_s"] > 0
    else:
        assert layers["queries.build_s"] > 0 and layers["queries.exec_s"] > 0
    spans = [json.loads(line) for line in (tmp_path / "spans.jsonl").read_text().splitlines()]
    assert spans and all(s["end"] >= s["start"] for s in spans)


def test_refuses_to_run_without_the_package(tmp_path):
    bare = tmp_path / "bare"
    (bare / "perfbench").mkdir(parents=True)
    for f in ("run.py", "__init__.py"):
        (bare / "perfbench" / f).write_text(open(os.path.join(ROOT, "perfbench", f)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_daily", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
