#!/usr/bin/env python
"""Interleaved A/B of one registry entry across source trees.

    python tools/ab.py <entry> --variant NAME=TREE [--variant NAME=TREE ...]
                       [--pairs N] [--sf DIR]

A variant is a source tree holding a ``flink_parameter_server_spark``
package — e.g. the parent commit unpacked with
``git archive HEAD | tar -x -C <dir>`` next to the working tree ``.``.
Each pair runs every variant once, each in a fresh process that warms
the JVM on ``revenue_forecast`` and then builds the entry and
``count()``s it twice, both timed: the ``cold`` rep is the entry's
first run in the process (JVM/codegen first-run skew included), the
``warm`` rep is the next one -- the traffic bench.py times, since it
runs every entry once untimed before its timed reps. Pairs rotate which
variant runs first, so host drift spreads evenly over the variants.

Every run's output hash (md5 of the sorted row reprs of the warm rep,
collected after its timed count) must be equal across all variants and
pairs; the tool exits non-zero otherwise. It prints each variant's
median wall time and quartiles for both reps, and the number of pairs
it won (fastest warm rep in the pair). Core count comes from
``SPARK_GRAFT_CPUS`` (default: ``os.cpu_count()``), the fixture
directory from ``--sf`` or ``SPARK_GRAFT_SF_DIR``.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time


def child(entry: str, tree: str, sf_dir: str) -> None:
    sys.path.insert(0, tree)
    from flink_parameter_server_spark.plans import REGISTRY
    from flink_parameter_server_spark.session import get_spark

    spark = get_spark("fps-ab")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["revenue_forecast"].fn(spark, sf_dir).count()
    secs = {}
    for rep in ("cold", "warm"):
        t0 = time.perf_counter()
        df = REGISTRY[entry].fn(spark, sf_dir)
        df.count()
        secs[rep] = round(time.perf_counter() - t0, 3)
    rows = df.collect()  # untimed: the hash needs the rows, bench.py times count()
    digest = hashlib.md5("\n".join(sorted(map(repr, rows))).encode()).hexdigest()
    print(json.dumps({**secs, "rows": len(rows), "hash": digest}))
    spark.stop()


def run_variant(entry: str, tree: str, sf_dir: str, env: dict) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), entry, "--child", tree, "--sf", sf_dir],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{entry} failed in {tree} (exit {proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(times: list[float]) -> tuple[float, float, float]:
    if len(times) < 2:
        return times[0], times[0], times[0]
    q1, med, q3 = statistics.quantiles(times, n=4, method="inclusive")
    return med, q1, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entry")
    ap.add_argument("--variant", action="append", default=[], metavar="NAME=TREE")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"), metavar="DIR")
    ap.add_argument("--child", metavar="TREE", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.sf:
        ap.error("give --sf DIR or set SPARK_GRAFT_SF_DIR (as for bench.py)")
    if args.child:
        child(args.entry, args.child, args.sf)
        return 0

    variants = [v.split("=", 1) for v in args.variant]
    if len(variants) < 2 or any(len(v) != 2 for v in variants):
        ap.error("give at least two --variant NAME=TREE")
    variants = [(name, os.path.abspath(tree)) for name, tree in variants]
    args.sf = os.path.abspath(args.sf)  # each child runs with cwd=its tree
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    print(f"# {args.entry} sf={args.sf} cpus={env['SPARK_GRAFT_CPUS']} pairs={args.pairs}", flush=True)

    times = {rep: {name: [] for name, _ in variants} for rep in ("cold", "warm")}
    wins = dict.fromkeys(times["warm"], 0)
    hashes = set()
    for i in range(args.pairs):
        shift = i % len(variants)
        pair = {}
        for name, tree in variants[shift:] + variants[:shift]:
            res = run_variant(args.entry, tree, args.sf, env)
            for rep in times:
                times[rep][name].append(res[rep])
            hashes.add(res["hash"])
            pair[name] = res["warm"]
            print(
                f"pair {i} {name:12s} cold {res['cold']:8.3f}s warm {res['warm']:8.3f}s "
                f"rows={res['rows']} hash={res['hash'][:10]}",
                flush=True,
            )
        wins[min(pair, key=pair.get)] += 1

    for rep in times:
        for name, ts in times[rep].items():
            med, q1, q3 = summarize(ts)
            won = f" won {wins[name]}/{args.pairs}" if rep == "warm" else ""
            print(f"{args.entry} {rep} {name:12s} median {med:.3f}s [q1 {q1:.3f}, q3 {q3:.3f}]{won}")
    print(f"{args.entry} hash-equal: {'yes' if len(hashes) == 1 else 'NO'}")
    return 0 if len(hashes) == 1 else 1


if __name__ == "__main__":
    raise SystemExit(main())
