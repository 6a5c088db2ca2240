#!/usr/bin/env python3
"""Interleaved A/B: alternating old-tree / new-tree bench processes.

Running old once and then new once lets a slow box-regime drift
between the two captures read as a code delta. This tool alternates N
pairs of captures (old,new,new,old,...) so every regime phase samples
both sides, and reports paired deltas plus an untouched CONTROL query
whose |delta| bounds the capture's noise.

Usage:
    python3 tools/bench_interleave.py --old <commit> \
        [--only q_degree_hist,q_shingle_jaccard --control q_shingle_jaccard] \
        [--pairs 4] [--runs 3] [--cpus 32] [--sf-dir /root/testdata/sf0.1] \
        [--out report.md] [--emit-anchored bench_full.json]

The old side runs in a throwaway `git archive` export of --old (under
$TMPDIR, removed afterwards); the new side is the current working tree
(committed or dirty). Order alternates per
pair. Per side and query the summary gives min and median over the
pair processes' own min-of-runs values. Without --only every process
runs the full bench.

--emit-anchored PATH writes the new side's fastest full capture to
PATH with its own drift anchor embedded (anchor_commit, anchor_total,
anchor_runs, head_runs, paired_delta_pct, captured_at, head_commit) --
the self-adjudicating committed bench_full.json -- and prints the
SCALING.md closing-control table generated from those fields.
"""

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(args, cwd=REPO, check=True):
    return subprocess.run(args, cwd=cwd, check=check, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)


def cpu_busy(window_s=2.0):
    """Machine-wide CPU busy fraction over `window_s`, from two
    /proc/stat samples (idle = idle + iowait jiffies)."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[3] + v[4], sum(v)
    idle0, total0 = sample()
    time.sleep(window_s)
    idle1, total1 = sample()
    return 1.0 - (idle1 - idle0) / max(total1 - total0, 1)


def wait_idle(timeout_s=600, threshold=0.2):
    """Wait until the CPUs are idle (busy fraction below `threshold`).

    Gates on the busy fraction, not the load average: a finished bench
    JVM leaves the 1-minute load average at 2-3 for a minute or more
    after it exits, so a load gate waited 60-90 s before every run on
    an idle box."""
    t0 = time.time()
    while True:
        busy = cpu_busy()
        waited = time.time() - t0
        if busy < threshold or waited >= timeout_s:
            print(f"[iab] idle after {waited:.1f} s (cpu busy {busy:.0%})", flush=True)
            return busy
        print(f"[iab] waiting for idle box (cpu busy {busy:.0%}) ...", flush=True)
        time.sleep(3)


def compile_tree(tree, label):
    print(f"[iab] compiling {label} in {tree} ...", flush=True)
    c = sh(["sbt", "-batch", "compile"], cwd=tree, check=False)
    if c.returncode != 0:
        sys.exit(f"[iab] {label} compile FAILED:\n" +
                 "\n".join(c.stdout.splitlines()[-15:]))


def bench_once(tree, label, args, out_path):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_BENCH_FLOOR", None)
    env.pop("SPARK_GRAFT_ONLY", None)
    env.update({
        "SPARK_GRAFT_SF_DIR": args.sf_dir,
        "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_GRAFT_RUNS": str(args.runs),
        "SPARK_GRAFT_BENCH_OUT": out_path,
    })
    if args.only:
        env["SPARK_GRAFT_ONLY"] = args.only
    wait_idle()
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"], cwd=tree,
                       env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.exit(f"[iab] {label} bench FAILED:\n" +
                 "\n".join(r.stdout.splitlines()[-15:]))
    with open(out_path) as f:
        art = json.loads(f.read())
    if art.get("methodology", {}).get("floor_probe"):
        sys.exit(f"[iab] {label}: artifact is a floor probe; unset "
                 "SPARK_GRAFT_BENCH_FLOOR")
    if art.get("n_errors", 0) > 0:
        sys.exit(f"[iab] {label}: query errors in capture: {art.get('errors')}")
    return art


def closing_control_md(a):
    """SCALING.md closing-control table, generated from an anchored
    capture's own fields."""
    def totals(ts):
        return ", ".join(f"{t:.2f}" for t in ts)
    return "\n".join([
        "**Closing control (generated from bench_full.json anchor fields):**",
        "",
        "| capture | at | min-total (s) | per-process totals |",
        "|---|---|---|---|",
        f"| old {a['anchor_commit'][:9]} | {a['captured_at']} | "
        f"{a['anchor_total']:.2f} | {totals(a['anchor_runs'])} |",
        f"| new {a['head_commit'][:9]} | {a['captured_at']} | "
        f"{a['value']:.2f} | {totals(a['head_runs'])} |",
        "",
        f"Paired delta (median of per-process totals): {a['paired_delta_pct']:+.1f}% "
        "— same box, interleaved; anything a round-over-round artifact diff "
        "reports beyond this is box regime, not code.",
    ])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True, help="commit for the OLD side")
    ap.add_argument("--only", default=None,
                    help="comma list of queries (include the control); "
                         "default: the full bench")
    ap.add_argument("--control", default=None,
                    help="untouched query whose delta bounds capture noise")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--emit-anchored", default=None, metavar="PATH",
                    help="write the new side's fastest full capture to PATH "
                         "with its drift anchor embedded")
    args = ap.parse_args()
    if args.emit_anchored and args.only:
        sys.exit("[iab] --emit-anchored needs full captures; drop --only")

    import datetime
    started = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")

    old_commit = sh(["git", "rev-parse", args.old]).stdout.strip()
    head = sh(["git", "rev-parse", "HEAD"]).stdout.strip()
    dirty = bool(sh(["git", "status", "--porcelain"]).stdout.strip())

    tmp = tempfile.mkdtemp(prefix="graft-iab-")
    wt = os.path.join(tmp, "old")
    # an export, not a worktree: an interrupted run leaves no worktree
    # registered in the repository, only a temp directory
    os.makedirs(wt)
    subprocess.run(f"git archive {old_commit} | tar -x -C {shlex.quote(wt)}",
                   shell=True, cwd=REPO, check=True)
    arts = {"old": [], "new": []}
    try:
        compile_tree(wt, f"OLD {old_commit[:9]}")
        compile_tree(REPO, f"NEW {head[:9]}{'+dirty' if dirty else ''}")
        for p in range(args.pairs):
            order = [("old", wt), ("new", REPO)] if p % 2 == 0 \
                else [("new", REPO), ("old", wt)]
            for side, tree in order:
                out = os.path.join(tmp, f"{side}_{p}.json")
                art = bench_once(tree, f"pair {p + 1}/{args.pairs} {side}",
                                 args, out)
                arts[side].append(art)
                print(f"[iab] pair {p + 1} {side}: total={art['value']:.3f}",
                      flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    queries = [q.strip() for q in args.only.split(",") if q.strip()] \
        if args.only else sorted(arts["new"][0]["queries"])
    samples = {side: {q: [a["queries"][q] for a in arts[side] if q in a["queries"]]
                      for q in queries} for side in arts}

    lines = [f"# Interleaved A/B — {old_commit[:9]} vs "
             f"{head[:9]}{' (+uncommitted)' if dirty else ''}",
             "",
             f"Protocol: {args.pairs} pairs, order-alternating, "
             f"SPARK_GRAFT_RUNS={args.runs} per process, min-of-runs per "
             f"process, sf={args.sf_dir}, cpus={args.cpus}."
             + (f" Control: {args.control}." if args.control else ""),
             "",
             "| query | old min | new min | Δmin | old med | new med | Δmed |",
             "|---|---|---|---|---|---|---|"]
    for q in queries:
        o, n = samples["old"][q], samples["new"][q]
        if not o or not n:
            lines.append(f"| {q} | (missing) | | | | | |")
            continue
        om, nm = min(o), min(n)
        od, nd = statistics.median(o), statistics.median(n)
        tag = " (control)" if q == args.control else ""
        lines.append(
            f"| {q}{tag} | {om:.3f} | {nm:.3f} | {(nm - om) / om * 100:+.1f}% "
            f"| {od:.3f} | {nd:.3f} | {(nd - od) / od * 100:+.1f}% |")
    lines.append("")
    lines.append("Per-process samples (min-of-runs):")
    for side in ("old", "new"):
        for q in queries:
            vals = ", ".join(f"{v:.3f}" for v in samples[side][q])
            lines.append(f"- {side} {q}: [{vals}]")
    report = "\n".join(lines)
    print(report)
    if args.out:
        with open(args.out, "w") as f:
            f.write(report + "\n")
    if args.emit_anchored:
        o_tot = [a["value"] for a in arts["old"]]
        n_tot = [a["value"] for a in arts["new"]]
        o_med, n_med = statistics.median(o_tot), statistics.median(n_tot)
        anchored = dict(min(arts["new"], key=lambda a: a["value"]))
        anchored.update({
            "anchor_commit": old_commit,
            "anchor_total": min(o_tot),
            "anchor_runs": o_tot,
            "head_runs": n_tot,
            "paired_delta_pct": round((n_med - o_med) / o_med * 100.0, 2),
            "captured_at": started + " to " +
                           datetime.datetime.now().strftime("%H:%M"),
            "head_commit": head + ("+dirty" if dirty else ""),
        })
        with open(args.emit_anchored, "w") as f:
            json.dump(anchored, f)
        print(f"[iab] anchored capture written to {args.emit_anchored}\n")
        print(closing_control_md(anchored))


if __name__ == "__main__":
    main()
