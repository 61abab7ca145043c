#!/usr/bin/env python3
"""Measure every registry query once at sf0.1: the sweep the ``lake``
workload's queries are drawn from (see ``registry.py``).

    python3 perfbench/sweep.py [--seed 1] [--out perfbench/registry_sweep.json]

It builds the harness as ``run.py`` does, generates the seed's tables at
sf0.001 and sf0.1, runs ``graft.perfbench.Sweep`` on ``local[nproc]`` and
writes the per-query records under a config header. Its work directory,
``perfbench/.work/sweep``, is removed at the end.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import registry  # noqa: E402
import run  # noqa: E402

SWEEP_LIMIT_S = 3 * 3600


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=registry.SWEEP)
    a = ap.parse_args()
    env = dict(os.environ, SPARK_HOME=run.spark_home())
    cp = run.classpath(env)
    work = os.path.join(run.WORK, "sweep")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for sf in (0.001, 0.1):
            gen.write_tables(os.path.join(work, f"sf{sf}"), sf, a.seed)
        cpus = run.nproc()
        start = time.time()
        run.run_jvm(cp, "graft.perfbench.Sweep",
                    ["--sf01", os.path.join(work, "sf0.1"),
                     "--sf0001", os.path.join(work, "sf0.001"),
                     "--work", work, "--cpus", str(cpus)],
                    work, start + SWEEP_LIMIT_S)
        records = run.read_jsonl(os.path.join(work, "sweep.jsonl"))
        head, queries = records[0], records[1:]
        sweep = {
            "config": {"seed": a.seed, "sf": 0.1, "cpus": cpus,
                       "master": head["master"], "heap_flag": run.HEAP,
                       "spark_version": head["spark_version"],
                       "git_sha": run.git_sha(),
                       "sweep_s": round(time.time() - start, 1)},
            "ensure_order": head["ensure_order"],
            "ensures": head["ensures"],
            "ensure_ms": head["ensure_ms"],
            "queries": queries}
        with open(a.out, "w") as f:
            json.dump(sweep, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{len(queries)} queries, "
              f"{sum(1 for q in queries if q['error'])} failed; wrote {a.out}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
