"""Self-test of the benchmark at a tiny input size (about a minute).

    python3 perfbench/selftest.py

One Spark session serves every case. For each workload it checks that
an untraced run prints every end-to-end metric of BENCHMARK.json and a
traced run every per-layer metric, each with its unit, with no failed
op; and that a planted wrong output row and a planted leaked DataFrame
persist each make that op fail (failed_ops_ratio > 0). Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

# two warm ops: a traced run alternates traced and untraced ones; the
# planted fault goes into the first (workloads.PLANT_OP)
MIN_WARM = 2


def main() -> int:
    err = run._check_program()
    if err:
        print(f"selftest: {err}", file=sys.stderr)
        return 2
    tmp = os.path.join(run.HERE, ".tmp", f"selftest-{os.getpid()}")
    run._isolate(tmp)
    sys.path.insert(0, run.ROOT)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems: list[str] = []
    spark = run.session(trace=True)
    try:
        problems = _cases(spark, tmp, bench, want)
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "ok" if not problems else f"{len(problems)} failure(s)")
    return 1 if problems else 0


def _cases(spark, tmp: str, bench: dict, want: dict) -> list[str]:
    import corpus

    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        input_dir, expected, _ = corpus.ensure(wl, 1, "tiny")
        for trace in (0, 1):
            m = run.measure(spark, wl, input_dir, expected, 0, bool(trace), "none", tmp,
                            min_warm=MIN_WARM)
            out = run.result_line(m, bool(trace), 0.5, 0.5, 0.1)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            for k, v in out["metrics"].items():
                print(f"{wl} trace={trace} {k} = {v['value']:.6g} {v['unit']}")
            if got != want[str(trace)]:
                problems.append(f"{wl} trace={trace}: metric names/units differ "
                                f"from BENCHMARK.json: {sorted(set(got) ^ set(want[str(trace)]))}")
            if out["failed"]:
                problems.append(f"{wl} trace={trace}: {out['failed']} op(s) failed")
        for plant in ("wrong_row", "leak"):
            m = run.measure(spark, wl, input_dir, expected, 0, False, plant, tmp,
                            min_warm=MIN_WARM)
            ratio = sum(r.failed for r in m["results"]) / len(m["results"])
            print(f"{wl} plant={plant} failed_ops_ratio = {ratio:.3f}")
            if not ratio > 0:
                problems.append(f"{wl}: a planted {plant} did not raise failed_ops_ratio")
    return problems


if __name__ == "__main__":
    sys.exit(main())
