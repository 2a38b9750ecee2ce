#!/usr/bin/env python
"""Same-window A/B of one registered query: side A runs with every module
constant at its default, side B with the ``--set`` overrides applied. The
sides alternate in one session (the order flips every rep), both results
are checked value-identical first, and one JSON line is printed: min and
median seconds per side and how many reps B won.

Per rep, outside the timed region: Python gc, ``clearCache`` and a JVM
``System.gc``; the timed region writes to the noop sink. Both sides warm
up once on the sf0.001 corpus beside SF_DIR (else SF_DIR itself).

  python scripts/ab.py QUERY SF_DIR --set pkg.module.NAME=VALUE [--set ...] [--reps 5]
"""

from __future__ import annotations

import argparse
import ast
import gc
import importlib
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from brooklin_spark import registry  # noqa: E402
from brooklin_spark.session import get_spark  # noqa: E402


def parse_set(item: str) -> tuple[object, str, object]:
    target, _, raw = item.partition("=")
    mod_name, _, name = target.rpartition(".")
    mod = importlib.import_module(mod_name)
    if not hasattr(mod, name):
        raise SystemExit(f"--set {item}: {mod_name} has no {name}")
    try:
        value = ast.literal_eval(raw)
    except (ValueError, SyntaxError):
        value = raw
    return mod, name, value


@contextmanager
def overridden(sets: list[tuple[object, str, object]]):
    prev = [(mod, name, getattr(mod, name)) for mod, name, _ in sets]
    try:
        for mod, name, value in sets:
            setattr(mod, name, value)
        yield
    finally:
        for mod, name, value in prev:
            setattr(mod, name, value)


def main(argv: list[str] | None = None, spark=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("query")
    ap.add_argument("sf_dir")
    ap.add_argument("--set", action="append", default=[], dest="sets")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args(argv)
    registry.load_all()
    fn = registry.QUERIES[args.query]
    sets = [parse_set(s) for s in args.sets]
    spark = spark or get_spark(app_name="ab")
    sides = {"a": [], "b": sets}
    warm = os.path.join(os.path.dirname(os.path.abspath(args.sf_dir)), "sf0.001")
    warm = warm if os.path.isdir(warm) else args.sf_dir
    rows = {}
    for side, side_sets in sides.items():
        with overridden(side_sets):
            fn(spark, warm).write.format("noop").mode("overwrite").save()
            rows[side] = sorted(repr(tuple(r)) for r in fn(spark, args.sf_dir).collect())
    out = {"query": args.query, "sf_dir": args.sf_dir, "set": args.sets,
           "reps": args.reps, "rows": len(rows["a"]), "identity": rows["a"] == rows["b"]}
    if out["identity"]:
        times: dict[str, list[float]] = {"a": [], "b": []}
        for i in range(args.reps):
            for side in ("a", "b") if i % 2 == 0 else ("b", "a"):
                with overridden(sides[side]):
                    gc.collect()
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.perf_counter()
                    fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                    times[side].append(time.perf_counter() - t0)
        for side, ts in times.items():
            out[side] = {"min_s": round(min(ts), 3), "median_s": round(statistics.median(ts), 3)}
        out["b_wins"] = sum(b < a for a, b in zip(times["a"], times["b"]))
    print(json.dumps(out), flush=True)
    return out


if __name__ == "__main__":
    sys.exit(0 if main()["identity"] else 1)
