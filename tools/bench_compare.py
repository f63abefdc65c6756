"""Compare two BENCH_DETAIL.json files: medians, subtotals, outliers —
plus an interleaved A/B mode that settles flagged outliers with paired
measurements instead of cross-day prose.

Usage: python tools/bench_compare.py OLD.json NEW.json [ratio_floor]
           [--json OUT.json]
       python tools/bench_compare.py --ab QID [QID...] [--old REF]
           [--rounds N] [--reps K] [--sf-dir DIR] [--json OUT.json]

Single-JVM per-query timings wobble 2-3x run to run and the HOST
drifts across a day (same-code whole-bench totals spread 169-210 s in
round 5), so a cross-day BENCH_DETAIL ratio for one query proves
nothing by itself.  ``--ab`` removes the ambiguity: it extracts the
tree of ``REF`` (default: ``HEAD``, i.e. the parent of uncommitted
work) into .scratch/ab_<sha>, then ALTERNATES old/new probe processes
within one host session (``tools/_ab_probe.py``, bench.py's
steady-state protocol, K timed reps each) and reports per-query paired
ratios — host drift hits both sides of each pair equally and cancels.
Each median paired ratio is printed with the min-max of the paired
ratios and the old side's IQR/median; a ratio inside that spread, or
with pairs on both sides of 1, is marked ``unresolved``.
"""

from __future__ import annotations

import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _probe(repo_dir: str, qid: str, sf_dir: str, reps: int) -> list[float]:
    # PYTHONPATH: Spark's Python workers import the UDFs' modules from
    # the probed checkout, not from this one
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "_ab_probe.py"),
         repo_dir, qid, sf_dir, str(reps)],
        capture_output=True, text=True, check=True,
        env={**os.environ, "PYTHONPATH": repo_dir},
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["times"]


def _git(*args: str) -> bytes:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, check=True
    ).stdout


def run_ab(qids: list[str], old_ref: str, rounds: int, reps: int,
           sf_dir: str, json_out: str | None) -> None:
    # key the checkout by sha: a symbolic ref (HEAD) would reuse a
    # stale tree after the next commit
    old_ref = _git("rev-parse", "--verify", f"{old_ref}^{{commit}}").decode().strip()
    scratch = REPO / ".scratch" / f"ab_{old_ref}"
    if not scratch.exists():
        tarfile.open(fileobj=io.BytesIO(_git("archive", old_ref))).extractall(scratch)
    results = {}
    for qid in qids:
        pairs = []
        for i in range(rounds):
            # alternate which side goes first so slow-drift within the
            # session doesn't systematically favor one side
            order = [("old", str(scratch)), ("new", str(REPO))]
            if i % 2:
                order.reverse()
            sample = {}
            for side, repo_dir in order:
                sample[side] = _probe(repo_dir, qid, sf_dir, reps)
            pairs.append(sample)
            print(f"  {qid} round {i+1}/{rounds}: "
                  f"old={sample['old']} new={sample['new']}", file=sys.stderr)
        old_all = [t for p in pairs for t in p["old"]]
        med_old = statistics.median(old_all)
        med_new = statistics.median(t for p in pairs for t in p["new"])
        min_old = min(old_all)
        min_new = min(t for p in pairs for t in p["new"])
        paired_ratios = [
            statistics.median(p["new"]) / statistics.median(p["old"])
            for p in pairs
        ]
        med_ratio = statistics.median(paired_ratios)
        lo, hi = min(paired_ratios), max(paired_ratios)
        # the old side's own spread: a ratio whose distance from 1 is
        # inside it, or whose pairs fall on both sides of 1, is noise
        q1, _, q3 = (statistics.quantiles(old_all, n=4, method="inclusive")
                     if len(old_all) > 1 else [med_old] * 3)
        old_spread = (q3 - q1) / med_old
        resolved = (lo > 1 or hi < 1) and abs(med_ratio - 1) > old_spread
        results[qid] = {
            "old_ref": old_ref,
            "rounds": rounds,
            "reps_per_process": reps,
            "samples": pairs,
            "median_old_sec": round(med_old, 4),
            "median_new_sec": round(med_new, 4),
            "min_old_sec": round(min_old, 4),
            "min_new_sec": round(min_new, 4),
            "paired_ratios": [round(r, 3) for r in paired_ratios],
            "median_paired_ratio": round(med_ratio, 3),
            "old_iqr_over_median": round(old_spread, 3),
            "resolved": resolved,
        }
        print(f"{qid}: median {med_old:.3f}s -> {med_new:.3f}s  "
              f"(min {min_old:.3f} -> {min_new:.3f})  "
              f"median paired ratio {med_ratio:.3f}x "
              f"[pairs {lo:.3f}-{hi:.3f}, old IQR/median {old_spread:.3f}]"
              f"{'' if resolved else '  unresolved'}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {json_out}")


def main() -> None:
    args = list(sys.argv[1:])
    json_out = None
    if "--ab" in args:
        args.remove("--ab")

        def _opt(name, default, cast=str):
            if name in args:
                i = args.index(name)
                v = cast(args[i + 1])
                del args[i : i + 2]
                return v
            return default

        old_ref = _opt("--old", "HEAD")
        rounds = _opt("--rounds", 3, int)
        reps = _opt("--reps", 3, int)
        sf_dir = _opt("--sf-dir", "/root/testdata/sf0.1")
        json_out = _opt("--json", None)
        if not args:
            sys.exit("usage: bench_compare.py --ab QID [QID...] "
                     "[--old REF] [--rounds N] [--reps K] [--sf-dir DIR] "
                     "[--json OUT.json]")
        run_ab(args, old_ref, rounds, reps, sf_dir, json_out)
        return
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: bench_compare.py OLD.json NEW.json "
                     "[ratio_floor] [--json OUT.json]")
        json_out = args[i + 1]
        del args[i : i + 2]
    old = json.load(open(args[0]))["queries"]
    new = json.load(open(args[1]))["queries"]
    floor = float(args[2]) if len(args) > 2 else 2.0
    shared = sorted(set(old) & set(new))
    ratios = {k: new[k] / old[k] for k in shared if old[k] > 0.05}
    print(
        f"shared={len(shared)}  only-old={len(set(old) - set(new))}"
        f"  only-new={len(set(new) - set(old))}"
    )
    print(
        f"shared subtotal: {sum(old[k] for k in shared):.1f}s ->"
        f" {sum(new[k] for k in shared):.1f}s"
        f"   median ratio: {statistics.median(ratios.values()):.2f}x"
    )
    out = [(r, k) for k, r in ratios.items() if r >= floor]
    for r, k in sorted(out, reverse=True):
        print(f"  {r:5.2f}x  {old[k]:7.3f} -> {new[k]:7.3f}  {k}")
    if not out:
        print(f"  (no shared query >= {floor}x slower)")
    if json_out:
        payload = {
            "old": args[0],
            "new": args[1],
            "n_shared": len(shared),
            "only_old": sorted(set(old) - set(new)),
            "only_new": sorted(set(new) - set(old)),
            "shared_subtotal_old_sec": round(sum(old[k] for k in shared), 3),
            "shared_subtotal_new_sec": round(sum(new[k] for k in shared), 3),
            "median_ratio": round(statistics.median(ratios.values()), 3),
            "ratio_floor": floor,
            "outliers": {
                k: {"old": old[k], "new": new[k], "ratio": round(r, 3)}
                for r, k in sorted(out, reverse=True)
            },
        }
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
