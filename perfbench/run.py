#!/usr/bin/env python3
"""Client-traffic benchmark of the graft engine through its /v1/statement
front door. See perfbench/README.md.

    python3 perfbench/run.py --workload tpch_analytic --seed 1 --seconds 10 --trace 0

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. The line before it is the run's details (host stamp, set-up
breakdown, tail percentile); both are also written under
.bench_build/perfbench/results/.
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from agent import BUILD_DIR, ROOT, BenchError, build, log, require_sources, source_stamp  # noqa: E402

WORKLOADS = {
    # name: clients
    "tpch_analytic": 1,
    "ingest_mixed": 4,
}


def fixture_dir():
    d = Path(os.environ.get("GRAFT_FIXTURE_DIR", "~/testdata/sf0.1")).expanduser()
    if not (d / "lineitem.parquet").exists():
        raise BenchError(f"fixture {d} has no lineitem.parquet (set GRAFT_FIXTURE_DIR)")
    return d


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def load_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        require_sources()
        spec = load_spec()
        fixture = fixture_dir()
        jvm_opts, classpath = build()
        import runner  # needs duckdb; imported once the checkout is known good
        details, result, statements = runner.run(args, spec, fixture, jvm_opts, classpath, stamp=dict(
            nproc=nproc(), fixture=str(fixture),
            fixture_bytes=sum(f.stat().st_size for f in fixture.rglob("*") if f.is_file()),
            git_commit=git_commit(), source_sha256=source_stamp(), seed=args.seed,
            workload=args.workload, clients=WORKLOADS[args.workload]))
    except BenchError as e:
        log(f"error: {e}")
        return 2
    out = BUILD_DIR / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"details": details, "result": result, "statements": statements}))
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
