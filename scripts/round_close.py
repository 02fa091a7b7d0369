"""One-command round-close gate.

Runs, in order, everything a round must have green before its closing
commit — so a red or flaky test cannot ship from a forgotten step:

  1. full pytest suite               (the ROADMAP Tier-1 command:
     ``timeout -k 10 2670 python -m pytest tests/ -q
     --continue-on-collection-errors -p no:cacheprovider`` with
     ``SPARK_GRAFT_CPUS`` = the usable cores and
     ``SPARK_LOCAL_DIRS=/tmp/spark-local``)
  2. driver simulation               (``scripts/drive_contract.py`` —
     foreign CWD, sf0.01, every query vs its DuckDB oracle)
  3. plan-drift check                (``scripts/plan_inventory.py
     --compare <committed PLANS baseline>``)
  4. bench + canary-adjusted compare (``python bench.py`` then
     ``scripts/bench_compare.py <prev round BENCH> <new>``)

Exits non-zero on the FIRST failing stage; prints one summary line
per stage either way. The bench stage writes its raw JSON next to the
log so the closing ledger can cite the numbers.

Usage:
    python scripts/round_close.py \
        [--plans PLANS_r9.json] [--bench-old BENCH_r08.json] \
        [--skip-suite] [--skip-bench]

Defaults pick the highest-numbered committed ``PLANS_r*.json`` /
``BENCH_r*.json`` automatically. ``--skip-*`` exist for re-running a
single stage while iterating, NOT for the closing run.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest(pattern: str) -> str | None:
    def num(p: str) -> int:
        m = re.search(r"_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    files = sorted(glob.glob(os.path.join(REPO, pattern)), key=num)
    return files[-1] if files else None


def stage(name: str, cmd: list[str], cwd: str = REPO, env: dict | None = None) -> None:
    t0 = time.time()
    print(f"[round_close] {name}: {' '.join(cmd)}", flush=True)
    proc = subprocess.run(cmd, cwd=cwd, env=env)
    dt = time.time() - t0
    if proc.returncode != 0:
        print(f"[round_close] {name} FAILED (rc={proc.returncode}, {dt:.0f}s)")
        sys.exit(proc.returncode or 1)
    print(f"[round_close] {name} ok ({dt:.0f}s)", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=_latest("PLANS_r*.json"))
    ap.add_argument("--bench-old", default=_latest("BENCH_r*.json"))
    ap.add_argument("--bench-out", default="/tmp/round_close_bench.json")
    ap.add_argument("--skip-suite", action="store_true")
    ap.add_argument("--skip-bench", action="store_true")
    args = ap.parse_args()

    if not args.skip_suite:
        # the usable cores, as `env -u OMP_NUM_THREADS nproc` counts them
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS="/tmp/spark-local",
        )
        stage(
            "suite",
            [
                "timeout", "-k", "10", "2670",
                sys.executable, "-m", "pytest", "tests/", "-q",
                "--continue-on-collection-errors", "-p", "no:cacheprovider",
            ],
            env=env,
        )

    # foreign CWD is part of the contract the driver exercises
    stage(
        "driver-sim",
        [sys.executable, os.path.join(REPO, "scripts", "drive_contract.py")],
        cwd="/tmp",
    )

    if not args.plans:
        print("[round_close] no committed PLANS baseline found"); sys.exit(1)
    stage(
        "plan-drift",
        [
            sys.executable, "scripts/plan_inventory.py",
            "--out", "/tmp/round_close_plans.json",
            "--compare", args.plans,
        ],
    )

    if not args.skip_bench:
        def run_bench(out_path: str) -> None:
            t0 = time.time()
            print("[round_close] bench: python bench.py", flush=True)
            with open(out_path, "w") as f:
                proc = subprocess.run(
                    [sys.executable, "bench.py"], cwd=REPO, stdout=f,
                    stderr=subprocess.DEVNULL,
                )
            if proc.returncode != 0:
                print(f"[round_close] bench FAILED (rc={proc.returncode})")
                sys.exit(1)
            print(f"[round_close] bench ok ({time.time() - t0:.0f}s)", flush=True)

        run_bench(args.bench_out)
        if not args.bench_old:
            print("[round_close] no previous BENCH file; skipping compare")
        else:
            # Escalation protocol (r9): a single-run flag is as often
            # nonstationary host contention as a real regression (the
            # canary is one scalar; co-tenant drift mid-battery defeats
            # it). On flag, take two more runs and re-compare the
            # per-query MIN-of-3 (bench_compare multi-run mode) — the
            # protocol the r8 verdict used to settle q92/q142. Only a
            # min-of-3 flag fails the gate.
            # Symmetric minima (r9 ADVICE): when the old round committed
            # its raw run set (bench_runs_r{N}/), collapse the old side
            # with per-query min too — otherwise new-side minima vs a
            # single old run can mask small genuine regressions below
            # the contention noise floor.
            old_extra: list[str] = []
            m = re.search(r"BENCH_r0*(\d+)\.json$", args.bench_old or "")
            if m:
                old_extra = sorted(
                    glob.glob(os.path.join(
                        REPO, f"bench_runs_r{int(m.group(1))}", "*.json"))
                )
            old_flag = ["--old-extra", *old_extra] if old_extra else []

            def cmp_cmd(new_paths: list[str]) -> list[str]:
                # positionals first, --old-extra LAST (nargs='*' would
                # otherwise swallow appended new-run paths)
                return [
                    sys.executable, "scripts/bench_compare.py",
                    args.bench_old, *new_paths, *old_flag,
                ]

            proc = subprocess.run(cmp_cmd([args.bench_out]), cwd=REPO)
            if proc.returncode != 0:
                print("[round_close] compare flagged; "
                      "escalating with two more runs", flush=True)
                extra = []
                for i in (2, 3):
                    p = f"{args.bench_out}.run{i}"
                    run_bench(p)
                    extra.append(p)
                stage(
                    "bench-compare(escalated)",
                    cmp_cmd([args.bench_out, *extra]),
                )
            else:
                print("[round_close] bench-compare ok", flush=True)

    print("[round_close] ALL STAGES GREEN")


if __name__ == "__main__":
    main()
