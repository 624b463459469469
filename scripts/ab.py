"""Interleaved A/B of two arms over registered queries. Each rep runs
arm A then arm B back to back (ABAB), so every pair shares one
contention window; min, median and pair wins are reported per query.

An arm pair is either
  conf <key> <valA> <valB>  one runtime-settable SQL conf at two values
                            around the registered fn, or
  fn <module:function>      the registered fn (A) against a candidate
                            with the same (spark, sf_dir) signature (B).
A candidate is timed only after its collected rows equal the
registered query's rows; otherwise the run stops with RowsDiffer.

Every rep builds the plan with fn() and writes it to the noop sink, so
plan construction is part of the timed work.

Run, with SPARK_GRAFT_SF_DIR set to the scale-factor directory:
     python scripts/ab.py conf <key> <valA> <valB> <reps> <query> [query ...]
     python scripts/ab.py fn <module:function> <reps> <query> [query ...]
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time


class RowsDiffer(Exception):
    """A candidate arm returned other rows than the registered query."""


def resolve(arm: str):
    """The fn of a registered query, or the function a ``module:function``
    names; either takes (spark, sf_dir)."""
    from master_airflow_spark import registry

    registry._ensure_loaded()
    if arm in registry.REGISTRY:
        return registry.REGISTRY[arm].fn
    module, _, attr = arm.partition(":")
    return getattr(importlib.import_module(module), attr)


def rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def with_conf(fn, key: str, value: str):
    def arm(spark, sf_dir):
        spark.conf.set(key, value)
        return fn(spark, sf_dir)

    return arm


def checked_arms(spark, sf_dir: str, name: str, fn, candidate):
    """(fn, candidate) once both return the same rows, else RowsDiffer."""
    from master_airflow_spark import registry

    ra = rows(fn(spark, sf_dir))
    rb = rows(candidate(spark, sf_dir))
    registry.release_caches()
    if ra != rb:
        first = next(((x, y) for x, y in zip(ra, rb) if x != y), None)
        raise RowsDiffer(f"{name}: {len(ra)} vs {len(rb)} rows, first diff {first}")
    return fn, candidate


def run(spark, sf_dir: str, arm) -> float:
    from master_airflow_spark import registry

    t0 = time.perf_counter()
    arm(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    registry.release_caches()
    return dt


def interleave(spark, sf_dir: str, arm_a, arm_b, reps: int) -> tuple[list[float], list[float]]:
    run(spark, sf_dir, arm_a)  # warm both arms once
    run(spark, sf_dir, arm_b)
    ta, tb = [], []
    for _ in range(reps):
        ta.append(run(spark, sf_dir, arm_a))
        tb.append(run(spark, sf_dir, arm_b))
    return ta, tb


def ab(spark, sf_dir: str, argv: list[str]) -> int:
    from master_airflow_spark import registry

    registry._ensure_loaded()
    mode, rest = argv[0], argv[1:]
    if mode == "conf":
        key, val_a, val_b = rest[:3]
        rest = rest[3:]
    elif mode == "fn":
        candidate = resolve(rest[0])
        rest = rest[1:]
    else:
        raise SystemExit(__doc__)
    reps, names = int(rest[0]), rest[1:]
    for name in names:
        fn = registry.REGISTRY[name].fn
        if mode == "conf":
            arms = with_conf(fn, key, val_a), with_conf(fn, key, val_b)
        else:
            arms = checked_arms(spark, sf_dir, name, fn, candidate)
        ta, tb = interleave(spark, sf_dir, *arms, reps)
        fmt = lambda s: " ".join(f"{x:.3f}" for x in s)  # noqa: E731
        print(
            f"{name}: A(min={min(ta):.3f} med={statistics.median(ta):.3f})"
            f" B(min={min(tb):.3f} med={statistics.median(tb):.3f})"
            f" B wins {sum(b < a for a, b in zip(ta, tb))}/{reps}"
            f"  A=[{fmt(ta)}] B=[{fmt(tb)}]",
            flush=True,
        )
    return 0


def main(argv: list[str]) -> int:
    from master_airflow_spark.session import get_spark

    spark = get_spark(app_name="mas-ab")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    return ab(spark, sf_dir, argv)


if __name__ == "__main__":
    sys.path.insert(0, ".")
    if len(sys.argv) < 4 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        sys.exit(__doc__)
    raise SystemExit(main(sys.argv[1:]))
