#!/usr/bin/env python
"""End-of-round certification: sweep AND suite on the frozen HEAD.

The r6 escape (`analytics_price_elasticity` red at sf0.001 on the frozen
tree) happened because certification was two separate manual steps: the
oracle sweep was re-run after the last operators landed, but the pytest
stamp predated them. This script closes that hole (r6 verdict item #2):

1. REFUSES to certify a dirty working tree — the stamp must describe a
   commit, not a moment.
2. Runs the full driver contract (entry smoke + every ``queries()`` entry
   vs its DuckDB oracle) at the driver's correctness scale via
   ``scripts/verify_driver_contract.py`` in a fresh interpreter, started
   from a scratch working directory with the repo root off PYTHONPATH.
3. Runs ``pytest tests/`` (the multi-scale sf0.001 gate lives there)
   twice: at ``SPARK_GRAFT_CPUS=4`` and at the host's core count — a
   pass at 32 cores once hid a scan-partition estimate that failed at
   4 (one run when the host has 4 cores).
4. Runs the same sweep from an 8-THREAD pool (r8, verdict item #5: the
   r7 concurrent stamp was taken mid-round at registry size 349; it is
   now a frozen-tree leg of every certification).
5. Runs the benchmark's smoke suite (``pytest perfbench/tests``): every
   workload end to end at sf0.001 with its output checks, the ETL
   load's truth checks included.
6. Refuses to stamp if any tracked file exceeds 50 MB (r8, verdict
   item #3: the r5 DuckDB-spill blob guard).
7. Optionally (--stress) re-runs the sweep at sf0.1 with an 8g heap.
8. Optionally (--scale-gate) runs the 10× plan-shape assertions
   (SPARK_GRAFT_SCALE_GATE=1, needs /tmp/sf1 built).
9. Writes ``LOCAL_VERIFY_r{N}.json`` carrying the certified ``git_sha``
   plus all result blocks, and exits nonzero unless everything is green.

Usage: python scripts/certify.py ROUND_NUMBER [--stress] [--skip-pytest]
           [--scale-gate]
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(cmd: list[str], **kw) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, **kw)


def last_json_line(text: str) -> dict:
    for line in reversed(text.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise ValueError("no JSON summary line found in output:\n" + text[-2000:])


def run_sweep(sf_dir: str, mem: str | None = None, threads: int = 1) -> dict:
    env = dict(os.environ)
    # Certification legs are SKIP-FREE by definition (r9, ADVICE item
    # #2): a SPARK_GRAFT_SKIP left over from an sf1 stress shell would
    # silently excise queries from the sweep while the stamp still read
    # "full registry". Declared walls belong to the stress record, never
    # to certification.
    env.pop("SPARK_GRAFT_SKIP", None)
    if mem:
        env["SPARK_GRAFT_DRIVER_MEM"] = mem
    else:
        # judge-style bare heap: the concurrent leg must hold on
        # Spark's default driver memory, not an inherited override
        env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    # Run as the driver does, outside the repo root and with the root off
    # PYTHONPATH: a Python worker started in the repo root imports the
    # package from its working directory and would hide a broken path.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    cmd = [sys.executable, os.path.join(REPO, "scripts", "verify_driver_contract.py"),
           sf_dir]
    if threads > 1:
        cmd += ["--threads", str(threads)]
    t0 = time.time()
    with tempfile.TemporaryDirectory() as cwd:
        proc = subprocess.run(
            cmd, cwd=cwd, capture_output=True, text=True, env=env,
        )
    summary = last_json_line(proc.stdout)
    summary["wall_s"] = round(time.time() - t0, 1)
    summary["exit_code"] = proc.returncode
    return summary


def run_pytest(paths: list[str] | None = None,
               extra_env: dict | None = None) -> dict:
    t0 = time.time()
    env = dict(os.environ)
    if extra_env:
        env.update(extra_env)
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", *(paths or ["tests/"]),
         "-q", "--tb=line"],
        cwd=REPO, capture_output=True, text=True, env=env,
    )
    tail = proc.stdout.strip().splitlines()[-30:]
    counts = {"passed": 0, "failed": 0, "skipped": 0, "errors": 0}
    for line in tail:
        for key, pat in [("passed", r"(\d+) passed"), ("failed", r"(\d+) failed"),
                         ("skipped", r"(\d+) skipped"), ("errors", r"(\d+) error")]:
            m = re.search(pat, line)
            if m:
                counts[key] = max(counts[key], int(m.group(1)))
    return {
        **counts,
        "wall_s": round(time.time() - t0, 1),
        "exit_code": proc.returncode,
        "tail": tail[-6:],
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not args:
        print("usage: certify.py ROUND_NUMBER [--stress] [--skip-pytest]")
        return 2
    rnd = int(args[0])
    stress = "--stress" in sys.argv
    skip_pytest = "--skip-pytest" in sys.argv
    scale_gate = "--scale-gate" in sys.argv

    dirty = sh(["git", "status", "--porcelain"]).stdout.strip()
    # the record file itself (and driver artifacts) may be untracked;
    # anything else dirty means the stamp would not describe HEAD
    blocking = [
        ln for ln in dirty.splitlines()
        if not re.search(r"(LOCAL_VERIFY|BENCH_|CORRECTNESS_|SF1_STRESS_|"
                         r"derby\.log|spark-warehouse|\.pyc)", ln)
    ]
    if blocking:
        print("REFUSING to certify a dirty tree:\n" + "\n".join(blocking))
        return 1

    # blob guard (r8, verdict item #3): a 5.9 GB DuckDB spill file once
    # rode into history on a `git add -A`; refuse to stamp a tree that
    # tracks any file over 50 MB — fixtures live outside the repo and no
    # legitimate artifact is near that size.
    big = []
    for rel in sh(["git", "ls-files"]).stdout.splitlines():
        p = os.path.join(REPO, rel)
        if os.path.isfile(p) and os.path.getsize(p) > 50 * 1024 * 1024:
            big.append(f"{rel} ({os.path.getsize(p) // (1024 * 1024)} MB)")
    if big:
        print("REFUSING to certify: tracked files over 50 MB:\n"
              + "\n".join(big))
        return 1

    git_sha = sh(["git", "rev-parse", "HEAD"]).stdout.strip()

    record: dict = {"git_sha": git_sha, "round": rnd}

    print(f"[certify r{rnd}] sweep at sf0.01 on {git_sha[:10]} ...")
    record["sweep_sf001"] = run_sweep("/root/testdata/sf0.01")
    print(json.dumps(record["sweep_sf001"]))

    # TWO consecutive judge-style concurrent legs on the BARE default
    # heap (r9, verdict item #1): the r8 stamp's single 6g-heap pass was
    # interleaving-luck-dependent — the judge's bare-heap rerun OOMed in
    # plan-tree stringification. With spark.sql.maxPlanStringLength now
    # pinned by catalog.tbl(), the bare-heap sweep must be green
    # deterministically; running it twice demonstrates exactly that.
    for leg in (1, 2):
        print(f"[certify r{rnd}] concurrent sweep {leg}/2 at sf0.01 "
              "(8 threads, bare heap) ...")
        key = "concurrent_sweep_sf001" if leg == 1 else "concurrent_sweep_sf001_rep2"
        record[key] = run_sweep("/root/testdata/sf0.01", mem=None, threads=8)
        print(json.dumps(record[key]))

    if stress:
        print(f"[certify r{rnd}] stress sweep at sf0.1 (8g heap) ...")
        record["stress_sf01"] = run_sweep("/root/testdata/sf0.1", mem="8g")
        print(json.dumps(record["stress_sf01"]))

    pytest_keys = []
    if not skip_pytest:
        for cpus in sorted({4, len(os.sched_getaffinity(0))}):
            key = f"pytest_cpus{cpus}"
            print(f"[certify r{rnd}] pytest tests/ at SPARK_GRAFT_CPUS={cpus} ...")
            record[key] = run_pytest(extra_env={"SPARK_GRAFT_CPUS": str(cpus)})
            print(json.dumps({k: v for k, v in record[key].items()
                              if k != "tail"}))
            pytest_keys.append(key)

    print(f"[certify r{rnd}] perfbench smoke (pytest perfbench/tests) ...")
    record["perfbench_smoke"] = run_pytest(["perfbench/tests"])
    print(json.dumps({k: v for k, v in record["perfbench_smoke"].items()
                      if k != "tail"}))

    if scale_gate:
        # 10× plan-shape assertions (r8, verdict item #5): requires the
        # derived sf1 fixture at /tmp/sf1 (scripts/make_scale_fixture.py)
        print(f"[certify r{rnd}] scale gate (sf1 plan shapes) ...")
        record["scale_gate_sf1"] = run_pytest(
            ["tests/test_scale_gate.py"],
            extra_env={"SPARK_GRAFT_SCALE_GATE": "1"},
        )
        print(json.dumps({k: v for k, v in record["scale_gate_sf1"].items()
                          if k != "tail"}))

    def leg_ok(leg: dict) -> bool:
        # skip-free is part of green (r9, ADVICE item #2): a SKIPPED
        # query is an unexecuted query, and certification claims the
        # full registry ran
        return leg["n_bad"] == 0 and leg.get("n_skipped", 0) == 0

    sweep_ok = (leg_ok(record["sweep_sf001"])
                and record["sweep_sf001"]["entry_rows"] > 0)
    conc_ok = (leg_ok(record["concurrent_sweep_sf001"])
               and leg_ok(record["concurrent_sweep_sf001_rep2"]))
    stress_ok = (not stress) or leg_ok(record["stress_sf01"])
    pytest_ok = all(record[k]["exit_code"] == 0
                    for k in [*pytest_keys, "perfbench_smoke"])
    gate_ok = (not scale_gate) or record["scale_gate_sf1"]["exit_code"] == 0
    record["green"] = bool(
        sweep_ok and conc_ok and stress_ok and pytest_ok and gate_ok
    )

    # refuse to stamp if HEAD moved while we were certifying
    now_sha = sh(["git", "rev-parse", "HEAD"]).stdout.strip()
    if now_sha != git_sha:
        print(f"REFUSING to stamp: HEAD moved {git_sha[:10]} -> {now_sha[:10]}"
              " during certification; re-run on the frozen tree.")
        return 1

    out = os.path.join(REPO, f"LOCAL_VERIFY_r{rnd:02d}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(f"[certify r{rnd}] wrote {out} green={record['green']}")
    return 0 if record["green"] else 1


if __name__ == "__main__":
    sys.exit(main())
