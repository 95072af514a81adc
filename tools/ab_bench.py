"""A/B comparison of the benchmark between two commits.

    python tools/ab_bench.py --base HEAD~1 --head HEAD \\
        --workload maintain --workload merge_ingest --seeds 9001-9010 \\
        --workdir /tmp/ab --out ab.json

Each revision's committed files are exported with ``git archive`` into a
directory of its own under ``--workdir``, and ``perfbench/run.py`` runs
there (with ``BENCHMARK.json``'s ``run_seconds``), so each side builds
the engine from its own sources in a fresh JVM per run. For every seed and workload the two sides run back to back
as one pair; the side that runs first alternates from pair to pair.

For each workload and end-to-end metric of ``BENCHMARK.json`` it prints
each side's median and quartiles, the ratio of the medians, the pairs
the head side won (ties count for neither side), and whether the
medians differ by more than the base side's interquartile range. Runs
that are not ``correct`` or report failed operations are counted and
listed. Below the metrics, each side's median seconds per op kind
(``compaction``, ``clustering``, ``read``, ``merge``, ``merge_skewed``,
``sink``, ``expire``: a run's calls of the kind summed, from the run's
record) show which op a difference comes from. ``--out`` keeps every
run's result with its benchmark record. Nothing under ``perfbench/`` is
changed.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
# A run that takes longer than this has hung (runs take about a minute).
RUN_TIMEOUT_S = 900


def parse_seeds(spec: str) -> list[int]:
    """``9001-9010`` or ``1,5,9`` (or a mix) → seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export(rev: str, dest: Path) -> str:
    """Write the committed files of ``rev`` to ``dest``; returns its sha."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=REPO,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest.mkdir(parents=True)
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "archive", "--format=tar", sha], cwd=REPO, check=True, stdout=tar)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as tf:
            tf.extractall(dest, filter="data")
    return sha


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in a fresh interpreter and JVM: its last JSON
    line, plus the run's own record (per-op times, host steal) as
    ``record``."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-500:]}"}
    record = checkout / ".perfbench_out" / f"{workload}-seed{seed}-trace0.json"
    if record.exists():
        result["record"] = json.loads(record.read_text())
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def op_seconds(result: dict) -> dict[str, float]:
    """Seconds per op kind in one run: the record's timed ops summed by
    the part of their name before the first dot (``read``,
    ``compaction.compact`` → ``compaction``, ``merge_skewed``)."""
    out: dict[str, float] = {}
    for name, wall_s in result.get("record", {}).get("ops", []):
        kind = name.split(".")[0]
        out[kind] = out.get(kind, 0.0) + wall_s
    return out


def report(workload: str, pairs: list[dict], metrics: list[dict]) -> list[str]:
    """Summary lines of one workload's pairs."""
    ok = [p for p in pairs
          if all(p[s].get("correct") and not p[s].get("failed") for s in ("base", "head"))]
    out = [f"== {workload}: {len(pairs)} pairs, {len(ok)} with both runs correct"]
    for p in pairs:
        for side in ("base", "head"):
            r = p[side]
            if not r.get("correct") or r.get("failed"):
                why = r.get("error") or f"correct={r.get('correct')} failed={r.get('failed')}"
                out.append(f"   seed {p['seed']} {side}: not counted ({why})")
    out.append(f"   {'metric':18s} {'base q1/med/q3':>28s} {'head q1/med/q3':>28s} "
               f"{'ratio':>7s} {'wins':>6s} gap>IQR")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = [(p["base"]["metrics"][name]["value"], p["head"]["metrics"][name]["value"])
                for p in ok]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            out.append(f"   {name:18s} no values")
            continue
        base, head = [a for a, _ in vals], [b for _, b in vals]
        bq, hq = quartiles(base), quartiles(head)
        wins = sum((b < a) if lower else (b > a) for a, b in vals)
        gap = abs(hq[1] - bq[1]) > bq[2] - bq[0]
        out.append(f"   {name:18s} {'%.4g/%.4g/%.4g' % bq:>28s} {'%.4g/%.4g/%.4g' % hq:>28s} "
                   f"{hq[1] / bq[1] if bq[1] else float('nan'):7.3f} "
                   f"{wins:>3d}/{len(vals):<2d} {'yes' if gap else 'no'}")
    per_op = {side: [op_seconds(p[side]) for p in ok] for side in ("base", "head")}
    kinds = list(dict.fromkeys(k for runs in per_op.values() for run in runs for k in run))
    if kinds:
        out.append(f"   {'op (s per run)':18s} {'base median':>12s} {'head median':>12s} {'ratio':>7s}")
    for kind in kinds:
        base, head = ([run[kind] for run in per_op[side] if kind in run] for side in ("base", "head"))
        if not base or not head:
            out.append(f"   {kind:18s} only on one side")
            continue
        bm, hm = statistics.median(base), statistics.median(head)
        out.append(f"   {kind:18s} {bm:12.3f} {hm:12.3f} {hm / bm if bm else float('nan'):7.3f}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD~1", help="revision of the A side")
    ap.add_argument("--head", default="HEAD", help="revision of the B side")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 9001-9010 or 1,5,9")
    ap.add_argument("--workdir", type=Path, required=True,
                    help="new directory for the two exported checkouts")
    ap.add_argument("--out", type=Path, help="write every run's result here as JSON")
    args = ap.parse_args(argv)

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    seeds = parse_seeds(args.seeds)
    args.workdir.mkdir(parents=True)
    try:
        sides = {side: args.workdir / side for side in ("base", "head")}
        shas = {side: export(rev, sides[side])
                for side, rev in (("base", args.base), ("head", args.head))}
        print(f"base {shas['base'][:12]}  head {shas['head'][:12]}", flush=True)
        results: dict[str, list[dict]] = {w: [] for w in args.workload}
        for i, seed in enumerate(seeds):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for w in args.workload:
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = run_once(sides[side], w, seed, spec["run_seconds"])
                results[w].append(pair)
                walls = {s: pair[s].get("metrics", {}).get("wall_s", {}).get("value")
                         for s in ("base", "head")}
                print(f"{w} seed {seed} first={order[0]} wall_s base={walls['base']} "
                      f"head={walls['head']}", flush=True)
                if args.out:
                    args.out.write_text(json.dumps({"shas": shas, "results": results}, indent=1))
    finally:
        shutil.rmtree(args.workdir, ignore_errors=True)
    for w, pairs in results.items():
        print("\n".join(report(w, pairs, spec["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
