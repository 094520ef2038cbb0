"""Optimization inner loop: isolate queries, time them warm through
the noop sink (guide §1.4), and dump `.explain("formatted")` to
plans/opt/<name>_<tag>.txt (before/after plan evidence for a rewrite;
override the directory with --plans-dir).

Usage:
    python scripts/opt_time.py NAME [NAME ...] [--n 3] [--tag before]
        [--sf /root/testdata/sf0.1] [--no-plan] [--plans-dir plans/opt]

Prints per-query min of N warm runs — all N runs are recorded and the
reported basis is the MIN (no first-run discard; the session-level
warmups below absorb one-time costs). Job descriptions are set per
query (guide §1.5).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> int:
    args = sys.argv[1:]

    def _opt(flag: str, default: str | None = None) -> str | None:
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    n = int(_opt("--n", "3"))
    tag = _opt("--tag", None)
    sf_dir = _opt("--sf", "/root/testdata/sf0.1")
    plans_override = _opt("--plans-dir", None)
    no_plan = "--no-plan" in args
    if no_plan:
        args.remove("--no-plan")

    os.environ.setdefault("SPARK_GRAFT_DRAIN_PARTITIONS", "4")
    from energi_data_etl_spark.queries import QUERIES
    from energi_data_etl_spark.session import get_spark

    spark = get_spark("opt-time")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001" if os.path.isdir("/root/testdata/sf0.001") else sf_dir

    def mat(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    # same one-time warmups bench.py applies so isolated numbers are
    # comparable to in-suite numbers
    for w in ("flagship_daily_avg", "grouped_median_udaf", "token_budget_packing",
              "global_row_index", "streaming_tumbling_daily", "api_source_daily_rollup"):
        mat(QUERIES[w].fn(spark, warm_dir))

    plans_dir = plans_override or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "plans", "opt"
    )
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in args:
        q = QUERIES[name]
        times = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"opt:{name}:{i}")
            t0 = time.perf_counter()
            mat(q.fn(spark, sf_dir))
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if tag and not no_plan:
            try:
                plan = q.fn(spark, sf_dir)
                txt = plan._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
                with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                    fh.write(txt)
            except Exception as exc:  # noqa: BLE001 — streaming plans can't explain pre-start
                print(f"plan dump skipped for {name}: {exc}", file=sys.stderr)
        out[name] = {"min": min(times), "runs": times}
        print(f"{name}: min {min(times):.3f}  runs {times}", flush=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
