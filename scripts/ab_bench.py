"""Interleaved A/B benchmark between two code states of this repo.

The round-3 lesson: on this shared host, identical code swings 2.4x in
wall time between runs minutes apart, so two BENCH_r{N}.json files from
different rounds CANNOT be compared directly. The reference pins
performance with hyperfine (>=20 runs, warmups, ±5/10% CI budget —
`tests/regression/regression_performance.sh:249-279`); this script is
the engine's equivalent for cross-revision comparisons:

  * side A = a git ref (default: the round-2 snapshot), checked out into
    a throwaway worktree; side B = the current working tree
  * each rep is a FRESH JVM (a full `python bench.py` subprocess with
    BENCH_REPS=1), so no side inherits the other's JIT/codegen state
  * reps alternate A,B,B,A,A,B,... (mirrored pairs cancel slow drift in
    ambient load; pure alternation only cancels linear drift)
  * 1-min loadavg is recorded at every rep boundary
  * the comparison statistic is MIN over reps per query (hyperfine-min
    analogue: min is the noise-free estimator on a machine where noise
    is strictly additive)

Usage:
    python scripts/ab_bench.py [--gate] [ref_a] [n_rounds] [out_md]
        ref_a     default 67b23c1 (round-2 code)
        n_rounds  default 4  (=> 4 reps per side, 8 JVMs)
        out_md    default BENCH/AB_<refa>_vs_worktree.md

--gate turns the comparison into a REGRESSION GATE mirroring the
reference's CI budget (regression_performance.sh:249-279: mean_ratio
fail >1.10 / warn >1.05): exit 1 if the current tree's suite
min-of-reps is >10% slower than the pinned baseline ref, warn (exit 0)
past 5%; a BENCH/GATE.md record is appended either way.

NEVER run other Spark jobs concurrently — every rep measures wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# rep hygiene (round-6 lesson: two of seven gate rows were ambient-load
# artifacts needing multi-hour manual adjudication). Every rep is (a)
# PINNED to a fixed core set with taskset, like scaling_bench — A and B
# then contend with neighbors identically instead of wandering the
# scheduler — and (b) LOAD-GATED: a rep waits (bounded) for 1-min
# loadavg to drop under AB_LOAD_GATE before starting. There is
# deliberately NO post-rep "noisy, re-run" heuristic: the bench's own
# 32-core run ends at loadavg 6-11 even on a quiet host (see
# BENCH/AB_36c6cdb post-loads), so any post-load threshold either
# never fires or chronically re-runs clean reps — and asymmetric rep
# counts skew a min-of-reps comparison toward the side with more
# draws. Add rounds instead if spread looks wide.
# Both defaults scale with the host: the gate is an eighth of its cores
# (4.0 on 32 cores, 0.5 on 4 — a fixed 4.0 is saturation on a 4-core
# host), and a rep is pinned to all of them unless SPARK_GRAFT_CPUS
# names fewer.
LOAD_GATE = float(os.environ.get("AB_LOAD_GATE", (os.cpu_count() or 8) / 8))
LOAD_WAIT_S = int(os.environ.get("AB_LOAD_WAIT_S", "600"))


def bench_cpus() -> int:
    want = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    return max(1, min(want, os.cpu_count() or want))


def wait_for_quiet(gate: float = LOAD_GATE,
                   timeout_s: int = LOAD_WAIT_S) -> float:
    """Block until 1-min loadavg < gate (or timeout); returns the wait."""
    t0 = time.time()
    while os.getloadavg()[0] >= gate and time.time() - t0 < timeout_s:
        time.sleep(10)
    return round(time.time() - t0, 1)


def run_bench(tree: str, env_extra: dict[str, str]) -> dict:
    env = dict(os.environ)
    env.update(env_extra)
    waited = wait_for_quiet()
    t0 = time.time()
    load0 = os.getloadavg()[0]
    proc = subprocess.run(
        ["taskset", "-c", f"0-{bench_cpus() - 1}",
         sys.executable, "bench.py"], cwd=tree, env=env,
        capture_output=True, text=True, timeout=900,
    )
    wall = time.time() - t0
    load1 = os.getloadavg()[0]
    line = None
    for ln in reversed(proc.stdout.strip().splitlines()):
        if ln.startswith("{"):
            line = ln
            break
    if proc.returncode != 0 or line is None:
        raise RuntimeError(
            f"bench failed in {tree} (rc={proc.returncode}):\n"
            f"{proc.stderr[-2000:]}")
    rec = json.loads(line)
    rec["_wall"] = round(wall, 1)
    rec["_load_pre"] = round(load0, 1)
    rec["_load_post"] = round(load1, 1)
    rec["_gate_wait"] = waited
    return rec


def ensure_worktree(ref: str) -> str:
    path = f"/tmp/ab_worktree_{ref}"
    sha = subprocess.run(["git", "rev-parse", f"{ref}^{{commit}}"],
                         cwd=REPO, check=True, capture_output=True,
                         text=True).stdout.strip()
    if not os.path.exists(os.path.join(path, "bench.py")):
        subprocess.run(["git", "worktree", "add", "--detach", "-f",
                        path, sha], cwd=REPO, check=True,
                       capture_output=True)
    # a reused worktree may hold a STALE checkout when ref is movable
    # (a branch that advanced since the last run) — side A would then
    # silently bench old code, the exact error this script exists to
    # prevent; re-pin HEAD to the resolved sha
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=path,
                          check=True, capture_output=True,
                          text=True).stdout.strip()
    if head != sha:
        subprocess.run(["git", "checkout", "--detach", sha], cwd=path,
                       check=True, capture_output=True)
    return path


GATE_FAIL = 1.10   # suite min-of-reps B/A above this -> exit 1
GATE_WARN = 1.05   # ... above this -> warning (exit 0)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--gate"]
    gate = "--gate" in sys.argv[1:]
    ref_a = args[0] if len(args) > 0 else "67b23c1"
    n_rounds = int(args[1]) if len(args) > 1 else 4
    out_md = (args[2] if len(args) > 2
              else os.path.join(REPO, "BENCH", f"AB_{ref_a}_vs_worktree.md"))
    tree_a = ensure_worktree(ref_a)
    tree_b = REPO
    env_extra = {"BENCH_REPS": "1"}

    runs: dict[str, list[dict]] = {"A": [], "B": []}
    seq: list[tuple[int, str, dict]] = []
    # mirrored pairs: round 0 -> A,B  round 1 -> B,A  round 2 -> A,B ...
    for rnd in range(n_rounds):
        order = ["A", "B"] if rnd % 2 == 0 else ["B", "A"]
        for side in order:
            tree = tree_a if side == "A" else tree_b
            rec = run_bench(tree, env_extra)
            runs[side].append(rec)
            seq.append((rnd, side, rec))
            print(f"round {rnd} side {side}: suite {rec['value']}s "
                  f"docs/sec {rec.get('docs_per_sec')} "
                  f"load {rec['_load_pre']}->{rec['_load_post']} "
                  f"waited {rec['_gate_wait']}s",
                  flush=True)

    # ---- aggregate -------------------------------------------------------
    def per_query_min(side: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for rec in runs[side]:
            for q, v in rec["queries"].items():
                out[q] = min(out.get(q, float("inf")), v)
        return out

    qa, qb = per_query_min("A"), per_query_min("B")
    common = [q for q in qb if q in qa]
    suite_a = round(sum(qa[q] for q in common), 3)
    suite_b = round(sum(qb[q] for q in common), 3)
    dps_a = max(r.get("docs_per_sec", 0) for r in runs["A"])
    dps_b = max(r.get("docs_per_sec", 0) for r in runs["B"])

    lines = [
        f"# Interleaved A/B: `{ref_a}` (A) vs current worktree (B)",
        "",
        f"{n_rounds} mirrored rounds (A,B / B,A alternating), fresh JVM "
        "per rep (`python bench.py`, BENCH_REPS=1), statistic = min over "
        f"reps. Rep hygiene: process tree pinned to cores "
        f"0-{bench_cpus() - 1} via taskset; each rep waits (<= "
        f"{LOAD_WAIT_S}s) for 1-min loadavg < {LOAD_GATE} before "
        "starting. Loadavg recorded at each rep boundary (post-load "
        "includes the bench's own tail — expect 6-11 on a quiet host).",
        "",
        "| round | side | suite s | docs/sec | load pre->post | waited s |",
        "|---|---|---|---|---|---|",
    ]
    for rnd, side, rec in seq:
        lines.append(
            f"| {rnd} | {side} | {rec['value']} | "
            f"{rec.get('docs_per_sec')} | "
            f"{rec['_load_pre']} -> {rec['_load_post']} | "
            f"{rec['_gate_wait']} |")
    lines += [
        "",
        f"**Suite min-of-reps (common queries): A {suite_a}s, "
        f"B {suite_b}s ({suite_b / suite_a:.2f}x)**  ",
        f"**Validation docs/sec (best rep): A {dps_a}, B {dps_b} "
        f"({dps_b / dps_a:.2f}x)**",
        "",
        "| query | A min s | B min s | B/A |",
        "|---|---|---|---|",
    ]
    for q in sorted(common, key=lambda q: -qa[q]):
        ratio = qb[q] / qa[q] if qa[q] else float("nan")
        lines.append(f"| {q} | {qa[q]} | {qb[q]} | {ratio:.2f} |")
    only_b = sorted(set(qb) - set(qa))
    if only_b:
        lines += ["", "Queries only in B (not compared): "
                  + ", ".join(f"{q} ({qb[q]}s)" for q in only_b)]
    if os.path.dirname(out_md):
        os.makedirs(os.path.dirname(out_md), exist_ok=True)
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"\nwrote {out_md}")
    ratio = suite_b / suite_a
    print(f"suite A {suite_a}s vs B {suite_b}s -> B/A {ratio:.2f}")

    if not gate:
        return 0
    # --- regression gate (reference CI budget analogue) -------------------
    verdict = ("FAIL" if ratio > GATE_FAIL
               else "WARN" if ratio > GATE_WARN else "PASS")
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                          cwd=REPO, capture_output=True, text=True
                          ).stdout.strip()
    gate_md = os.path.join(REPO, "BENCH", "GATE.md")
    is_new = not os.path.exists(gate_md)
    with open(gate_md, "a") as f:
        if is_new:
            f.write(
                "# Performance regression gate records\n\n"
                "`python scripts/ab_bench.py --gate <baseline-ref>` — "
                "interleaved fresh-JVM A/B, statistic = suite "
                "min-of-reps over common queries; FAIL > "
                f"{GATE_FAIL:.2f}x, WARN > {GATE_WARN:.2f}x (the "
                "reference's hyperfine CI budget, "
                "regression_performance.sh:249-279).\n\n"
                "| when (utc) | baseline | worktree HEAD | A min s | "
                "B min s | B/A | verdict |\n|---|---|---|---|---|---|---|\n")
        f.write(f"| {time.strftime('%Y-%m-%d %H:%M', time.gmtime())} "
                f"| {ref_a} | {head} | {suite_a} | {suite_b} "
                f"| {ratio:.3f} | {verdict} |\n")
    print(f"gate vs {ref_a}: {verdict} (B/A {ratio:.3f}; "
          f"fail>{GATE_FAIL}, warn>{GATE_WARN}) -> {gate_md}")
    return 1 if verdict == "FAIL" else 0


if __name__ == "__main__":
    sys.exit(main())
