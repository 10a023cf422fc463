#!/usr/bin/env python
"""Interleaved same-session A/B of query implementations: OLD tree vs
the working tree, alternating noop-sink passes (min-of-N each) after a
row-for-row result equality check.

Usage: PYTHONPATH=. python scripts/ab_compare.py OLD_TREE q1 [q2 ...]
           [--passes 3] [--skip-equality]

OLD_TREE is a checkout of the baseline (e.g. a `git worktree` at the
pre-change commit).  Pure observer: never touches the bench harness.
"""

from __future__ import annotations

import os
import sys
import time


def load_queries(path: str):
    """Import the query registry from ``path``, isolated from whatever
    mqtt2clickhouse_spark is currently imported."""
    saved = {
        k: v for k, v in sys.modules.items()
        if k.split(".")[0] in ("mqtt2clickhouse_spark", "__spark_entry__")
    }
    for k in list(saved):
        del sys.modules[k]
    sys.path.insert(0, path)
    try:
        from mqtt2clickhouse_spark.queries import QUERIES

        out = dict(QUERIES)
    finally:
        sys.path.pop(0)
        for k in list(sys.modules):
            if k.split(".")[0] in ("mqtt2clickhouse_spark", "__spark_entry__"):
                del sys.modules[k]
        sys.modules.update(saved)
    return out


def canon(rows):
    def cell(v):
        if isinstance(v, float):
            # fold -0.0 like the parity suite; repr keeps full precision
            return repr(v + 0.0 if v == 0 else v)
        return repr(v)

    return sorted(tuple(cell(v) for v in row) for row in rows)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    passes = 3
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    check_eq = "--skip-equality" not in args
    args = [a for a in args if a != "--skip-equality"]
    old_tree, names = args[0], args[1:]

    old_q = load_queries(old_tree)
    new_q = load_queries(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from mqtt2clickhouse_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab_compare")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm
    from bench import _release_session_state

    for name in names:
        if check_eq:
            ro = canon(old_q[name].spark_fn(spark, sf_dir).collect())
            rn = canon(new_q[name].spark_fn(spark, sf_dir).collect())
            if ro != rn:
                print(f"{name}: RESULTS DIFFER (old {len(ro)} rows, new {len(rn)} rows)")
                for a, b in list(zip(ro, rn))[:5]:
                    if a != b:
                        print("  old:", a)
                        print("  new:", b)
                continue
            _release_session_state(spark)
        times = {"old": [], "new": []}
        for _ in range(passes):
            for tag, reg in (("old", old_q), ("new", new_q)):
                t0 = time.perf_counter()
                df = reg[name].spark_fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times[tag].append(round(time.perf_counter() - t0, 3))
                _release_session_state(spark)
        mo, mn = min(times["old"]), min(times["new"])
        print(
            f"{name}: equal={'y' if check_eq else 'skipped'}  "
            f"old min {mo:.3f}s {times['old']}  new min {mn:.3f}s {times['new']}  "
            f"ratio {mn / mo:.3f}"
        )


if __name__ == "__main__":
    main()
