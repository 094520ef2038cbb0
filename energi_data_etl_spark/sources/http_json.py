"""HTTP JSON ingest (SURVEY.md §2.1 S1/S2): the reference's API source,
re-expressed for parallel backfill.

Reference behavior (scripts/energy_etl.py): a SERIAL loop over
zones × days (:53-79), one GET per zone-day (:64), 3 retries × 5 s
sleep (:61-78), parse JSON array of hourly prices (:67), keep
SEK_per_kWh (:69). Serial HTTP is the reference's #1 bottleneck
(BASELINE.md); here the (zone, day) fetch plan is a DataFrame and the
fetches run foreachPartition-parallel across executors — the retry
budget applies per task, not to the whole backfill.

Tests replay fixtures through the injectable ``fetcher`` (no network in
the container; SURVEY §2.1 S1 "tested via fixture replay").
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass
from datetime import date as Date

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["ApiConfig", "with_retry", "fetch_plan", "fetch_to_landing", "read_landing", "load_dotenv"]

#: elprisetjustnu.se API shape (reference energy_etl.py:19-20)
DEFAULT_URL_TEMPLATE = "https://www.elprisetjustnu.se/api/v1/prices/{year}/{month:02d}-{day:02d}_{zone}.json"
DEFAULT_ZONES = ("SE1", "SE2", "SE3", "SE4")


def load_dotenv(path: str = ".env", override: bool = False) -> dict[str, str]:
    """Dependency-free twin of the reference's ``load_dotenv()``
    (`energy_etl.py:10` — it reads API_TOKEN from a .env file into the
    environment before building requests). Parses ``KEY=VALUE`` lines
    (``#`` comments and blanks skipped, optional ``export `` prefix,
    single/double quotes stripped), sets ``os.environ`` entries — by
    default WITHOUT overriding variables already set (python-dotenv's
    semantics, so real deployment env always wins over a checked-in
    file) — and returns what it parsed. Missing file → empty dict, the
    reference's tolerant behavior. Use with `ApiConfig.from_env()`."""
    import os

    parsed: dict[str, str] = {}
    try:
        with open(path, encoding="utf-8") as fh:
            for raw in fh:
                line = raw.strip()
                if not line or line.startswith("#") or "=" not in line:
                    continue
                if line.startswith("export "):
                    line = line[len("export "):]
                k, v = line.split("=", 1)
                k, v = k.strip(), v.strip()
                if len(v) >= 2 and v[0] == v[-1] and v[0] in "\"'":
                    v = v[1:-1]
                parsed[k] = v
                if override or k not in os.environ:
                    os.environ[k] = v
    except OSError:
        return {}
    return parsed


@dataclass(frozen=True)
class ApiConfig:
    num_retries: int = 3  # reference :61
    retry_sleep_s: float = 5.0  # reference :78
    #: bearer token (reference reads API_TOKEN from env, energy_etl.py:13 —
    #: the public API ignores it, but a tokened API needs it on every GET)
    api_token: str | None = None
    #: extra request headers as (name, value) pairs (hashable: frozen dataclass)
    extra_headers: tuple[tuple[str, str], ...] = ()

    @classmethod
    def from_env(cls, dotenv_path: str | None = ".env", **overrides) -> "ApiConfig":
        """The reference's config path (`energy_etl.py:10-13`):
        `load_dotenv()` then read ``API_TOKEN`` from the environment.
        ``dotenv_path=None`` skips the file read (env-only)."""
        import os

        if dotenv_path is not None:
            load_dotenv(dotenv_path)
        overrides.setdefault("api_token", os.environ.get("API_TOKEN"))
        return cls(**overrides)

    def headers(self) -> dict[str, str]:
        """Request headers for every fetch task: Authorization from the
        token (if set) plus any extras. Computed driver-side once and
        shipped in the task closure — no per-request rebuild."""
        h = dict(self.extra_headers)
        if self.api_token:
            h["Authorization"] = f"Bearer {self.api_token}"
        return h


def with_retry(fn: Callable[[], object], num_retries: int = 3, sleep_s: float = 5.0):
    """The reference's retry-with-fixed-sleep (:61-78), as a reusable
    task-level wrapper: last error re-raised instead of swallowed (the
    reference prints and moves on; under Spark, raising lets the task
    retry budget and the skip-empty guard do their jobs). Sleeps only
    between attempts: a sleep after the last one would just delay the
    raise."""
    last: Exception | None = None
    for attempt in range(num_retries):
        if attempt:
            time.sleep(sleep_s)
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001
            last = exc
    assert last is not None
    raise last


def fetch_plan(spark: SparkSession, start: Date, end: Date, zones: Sequence[str] = DEFAULT_ZONES) -> DataFrame:
    """The backfill calendar as a DataFrame: (zone × day) rows with the
    request URL — the reference's nested loop (:53-55) declaratively
    (sequence + explode), so Spark distributes the fetch work."""
    zones_df = spark.createDataFrame([(z,) for z in zones], "zone string")
    days = F.explode(
        F.sequence(F.lit(start.isoformat()).cast("date"), F.lit(end.isoformat()).cast("date"))
    ).alias("date")
    cal = zones_df.select("zone", days)
    url = F.format_string(
        # printf-style twin of the reference's str.format template (:19)
        "https://www.elprisetjustnu.se/api/v1/prices/%d/%02d-%02d_%s.json",
        F.year("date"),
        F.month("date"),
        F.dayofmonth("date"),
        F.col("zone"),
    )
    return cal.withColumn("url", url)


def _default_fetcher(url: str, headers: dict[str, str] | None = None) -> list[dict]:
    import urllib.request

    req = urllib.request.Request(url, headers=headers or {})  # noqa: S310
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


def fetch_to_landing(
    plan: DataFrame,
    landing_dir: str,
    fetcher: Callable[[str], list[dict]] | None = None,
    config: ApiConfig = ApiConfig(),
) -> None:
    """Distributed fetch: each partition of the (zone, day, url) plan
    fetches its URLs (with the reference's retry policy) and appends
    JSON-lines rows {zone, date, <hourly record>} to the landing zone.

    Landing is one part-file per task — at scale, point this at object
    storage; the downstream read is schema-explicit either way.
    """
    import inspect

    fetch = fetcher or _default_fetcher
    num_retries, sleep_s = config.num_retries, config.retry_sleep_s
    headers = config.headers()
    # decide driver-side whether the fetcher takes headers (legacy
    # single-arg fetchers keep working) — no inspect calls on executors
    takes_headers = len(inspect.signature(fetch).parameters) >= 2

    def fetch_partition(rows: Iterable) -> Iterable:
        import os
        import uuid

        out = []
        for r in rows:
            if takes_headers:
                records = with_retry(lambda row=r: fetch(row.url, headers), num_retries, sleep_s)
            else:
                records = with_retry(lambda row=r: fetch(row.url), num_retries, sleep_s)
            for rec in records:
                out.append(json.dumps({"zone": r.zone, "date": str(r.date), **rec}))
        if out:
            os.makedirs(landing_dir, exist_ok=True)
            path = f"{landing_dir}/part-{uuid.uuid4().hex}.jsonl"
            with open(path, "w") as f:
                f.write("\n".join(out) + "\n")
        return iter(())

    # foreachPartition-style execution: the work happens executor-side
    plan.rdd.mapPartitions(fetch_partition).count()


LANDING_SCHEMA = (
    "zone string, date date, SEK_per_kWh double, EUR_per_kWh double, EXR double, "
    "time_start string, time_end string"
)


def read_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Schema-explicit landing read (never infer: SURVEY §1.3) — the
    from_json-with-declared-schema twin of the reference's response.json()."""
    return spark.read.schema(LANDING_SCHEMA).json(landing_dir)
