"""Record the benchmark's artifact and print every metric by name.

Runs, one after another: the load generator's self-check; each workload
untraced and traced on one seed (the difference is the tracing
overhead); one single-core ``ingest_backlog`` run (``--cpus 1``, the
baseline, recorded and not gated); and the program's own read path,
``DemuxSink.read_table``, over the untraced backlog warehouse.

    python3 perfbench/report.py --seed 7 --out perfbench/results/baseline.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402  (the benchmark's own module)


def bench(workload: str, seed: int, seconds: int, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=run.ROOT, timeout=400)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{out.stderr[-3000:]}")
    return json.loads(lines[-2])["detail"]


def spark_readback(rundir: str, detail: dict) -> dict:
    """Time ``DemuxSink.read_table`` on the run's hottest tables."""
    env = run.child_env(Path(rundir), detail["conditions"]["cpus"], False)
    sample = ",".join(detail["sample_tables"])
    out = subprocess.run(
        [sys.executable, str(BENCH / "readback.py"), "--warehouse", f"{rundir}/warehouse",
         "--tables", sample],
        capture_output=True, text=True, cwd=rundir, env=env, timeout=300)
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-3000:])
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {"tables": detail["sample_tables"], "passes_s": res["passes_s"], "scan_s": res["scan_s"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((run.ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--out", default=None, help="write the artifact JSON here")
    args = ap.parse_args()

    check = subprocess.run([sys.executable, str(BENCH / "loadgen.py"), "--self-check"],
                           capture_output=True, text=True, timeout=120)
    artifact: dict = {"seed": args.seed, "seconds": args.seconds,
                      "loadgen_self_check": json.loads(check.stdout.strip().splitlines()[-1]),
                      "workloads": {}}
    runs = []
    for w in run.WORKLOADS:
        keep = ("--keep",) if w == "ingest_backlog" else ()
        plain = bench(w, args.seed, args.seconds, 0, *keep)
        traced = bench(w, args.seed, args.seconds, 1)
        runs += [plain, traced]
        overhead = {k: traced["end_to_end"][k] / v - 1.0
                    for k, v in plain["end_to_end"].items() if v}
        entry = {"untraced": plain, "traced": traced, "tracing_overhead": overhead}
        if keep:
            entry["spark_read_table"] = spark_readback(plain["rundir"], plain)
            shutil.rmtree(plain["rundir"], ignore_errors=True)
        artifact["workloads"][w] = entry
    single = bench("ingest_backlog", args.seed, args.seconds, 0, "--cpus", "1")
    runs.append(single)
    artifact["single_core_backlog"] = single
    artifact["stalls"] = {"runs": len(runs),
                          "stalled": sum(1 for r in runs if r["stalled"]),
                          "progress_missing": sum(r["per_layer"].get("pipeline.progress_missing", 0)
                                                  for r in runs)}

    print(f"{'metric':34} {'unit':6} " + " ".join(f"{w:>16}" for w in run.WORKLOADS))
    for names, kind in ((run.END_TO_END, "end_to_end"), (run.PER_LAYER, "per_layer")):
        for name, unit in names.items():
            src = "untraced" if kind == "end_to_end" else "traced"
            vals = [artifact["workloads"][w][src][kind].get(name) for w in run.WORKLOADS]
            print(f"{name:34} {unit:6} " + " ".join(
                f"{v:16.4f}" if v is not None else f"{'-':>16}" for v in vals))
    for w in run.WORKLOADS:
        oh = artifact["workloads"][w]["tracing_overhead"]
        print(f"tracing overhead {w}: " + ", ".join(f"{k} {v:+.1%}" for k, v in oh.items()))
    print("single core backlog: " + ", ".join(
        f"{k} {v:.4f}" for k, v in single["end_to_end"].items()))
    print(f"stalls: {artifact['stalls']}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
