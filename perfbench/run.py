#!/usr/bin/env python3
"""Run one benchmark workload and print its figures.

Usage (from the repository root):
  python3 perfbench/run.py --workload curate|echem_screen|lakehouse \
      --seed N --seconds S --trace 0|1

Builds the library and the benchmark from source (perfbench/build.sbt,
only when a source changed), generates the workload's inputs from the
seed (perfbench/gen.py), runs the JVM side (perfbench.Main) on
local[nproc] for S seconds of closed-loop passes, checks every output,
and prints one JSON object as the last line of standard output:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1
the per-layer ones. Work files go to .bench_work/ under the root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
WORKLOADS = ("curate", "echem_screen", "lakehouse")
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("write_p50_s", "s"), ("read_p50_s", "s"))
RUN_LIMIT_S = 170  # a run must end within 180 s once built
HA_TO_EV, SHE_OFFSET_V, BOHR_A, ELECTRON_C = 27.2114, 4.66, 0.5291772105638411, 1.60217663e-19

sys.path.insert(0, HERE)
import gen  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


BENCH_SOURCES = [os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")]


def source_stamp(roots):
    h = hashlib.sha256()
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark unless the classes match
    the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no library sources under src/main/scala: run from the repository root")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp([os.path.join(ROOT, "src", "main")] + BENCH_SOURCES)
    if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        die(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def inputs(workload, seed):
    """Generated inputs, cached per (workload, seed, generator version)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(WORK, "inputs", f"{workload}-s{seed}-{version}")
    man = os.path.join(d, "manifest.json")
    if not os.path.exists(man):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
    with open(man) as f:
        return man, json.load(f)


def environment():
    """Capture conditions, computed as graft.Bench does: load average and
    the count of foreign sbt JVMs (xsbt.boot.Boot processes that are not
    this run's ancestors)."""
    ancestors, pid = set(), os.getpid()
    while pid > 1 and len(ancestors) < 64:
        ancestors.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    foreign = 0
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) not in ancestors:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    foreign += b"xsbt.boot.Boot" in f.read()
            except OSError:
                pass
    return {"nproc": os.cpu_count(), "load_avg": os.getloadavg()[0], "foreign_jvms": foreign}


def run_jvm(workload, manifest, seconds, trace, out, deadline, share):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = (["java", "-cp", JAR + os.pathsep + jars, "-Xmx3g", share,
            "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(run_dir, "derby.log"),
            "-Xshare:on", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in opens]
           + ["perfbench.Main", "--workload", workload, "--manifest", manifest,
              "--work", run_dir, "--seconds", str(seconds), "--trace", str(trace),
              "--launch-ms", str(int(time.time() * 1000)), "--out", out])
    log = os.path.join(WORK, f"jvm-{workload}.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"JVM did not finish in time, see {log}")
    if code != 0 or (seconds > 0 and not os.path.exists(out)):
        die(f"JVM exited with {code}, see {log}")
    return run_dir


def class_archive(workload, manifest, deadline):
    """The class-data archive every measured run of the workload maps
    (-Xshare:on: a run that cannot map it fails). It is dumped once per
    build and workload by a JVM that runs only the set-up (session and
    warm-up pass, --seconds 0) over the same inputs, so
    set-up time never depends on which runs came before."""
    with open(os.path.join(HERE, "target", "perfbench.stamp")) as f:
        build_id = f.read()[:16]
    archive = os.path.join(WORK, f"classes-{build_id}-{workload}.jsa")
    if not os.path.exists(archive):
        for old in glob.glob(os.path.join(WORK, "classes-*.jsa")):
            if not os.path.basename(old).startswith(f"classes-{build_id}-"):
                os.remove(old)
        dump = archive + ".part"
        run_dir = run_jvm(workload, manifest, 0, 0, os.devnull, deadline,
                          "-XX:ArchiveClassesAtExit=" + dump)
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.path.exists(dump):
            die(f"no class archive written, see {os.path.join(WORK, f'jvm-{workload}.log')}")
        os.replace(dump, archive)
    return archive


# ---- output checks: each returns the names of the operations whose
# output disagrees with the recomputation ----

def fit(points):
    """numpy.polyfit(x, y, 1)[0] — the reference's degree-1 fit slope."""
    n = len(points)
    mx = sum(p[0] for p in points) / n
    my = sum(p[1] for p in points) / n
    return (sum((x - mx) * (y - my) for x, y in points) /
            sum((x - mx) ** 2 for x, _ in points))


def electrochem(series, cell00, cell11):
    """(pzc, capacitance) from a material's (charge, mu, nElectrons)
    series, following the reference's analyze_electrochem."""
    area = cell00 * cell11 * BOHR_A * BOHR_A * 1e-16
    ne0 = next(ne for c, _, ne in series if c == 0.0)
    pts = [(mu * -HA_TO_EV - SHE_OFFSET_V, -(ne - ne0) / area * ELECTRON_C * 1e6 / 2.0)
           for _, mu, ne in series]
    pzc = next(p for (c, _, _), (p, _) in zip(series, pts) if c == 0.0)
    return pzc, fit(pts)


def close5(reported, expected):
    """A report cell (five decimals) agrees with a recomputed value."""
    return abs(float(reported) - expected) <= 1.5e-5 + 1e-9 * abs(expected)


def report_rows(md):
    rows = []
    for line in md.split("\n"):
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) == 3 and cells[0] not in ("MP id", "---"):
            rows.append(cells)
    return rows


def oracle_rows(con, sql):
    """Rows with columns in name order, sorted: the comparison
    tools/selfcheck.py makes between Spark output and its oracle."""
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description)
    return sorted(con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall(), key=repr)


def check_curate(res, man, first):
    """The flagship query and the near-dup cluster selection against
    their declared DuckDB oracles, over the workload's own documents."""
    bad = set()
    checks = res["checks"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{man['check']['dir']}/documents.parquet')")
    got = oracle_rows(con, f"SELECT * FROM read_parquet('{checks['q_cluster_best']}/*.parquet')")
    if not got or got != oracle_rows(con, checks["oracle"]["q_cluster_best"]):
        bad.add("curated_export")
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{man['main']['dir']}/documents.parquet')")
    rows = checks["q_curation_pipeline"]
    got = sorted((tuple(r[c] for c in sorted(r)) for r in rows), key=repr)
    if not got or got != oracle_rows(con, checks["oracle"]["q_curation_pipeline"]):
        bad.add("curation_pipeline")
    return bad


def check_echem(res, man, first, run_dir):
    bad = set()
    main = man["main"]
    geometry = res["checks"]["geometry"]
    if not res["checks"]["ep1_matches_full"]:
        bad.add("ep1_run_0")
    for name, digest in first.items():
        if not name.startswith("ep1_run_"):
            continue
        rows = report_rows(next(o["digest"] for o in res["ops"] if o["name"] == name))
        ok = len(rows) == 1 and rows[0][0] in geometry
        if ok:
            mp, pzc, cap = rows[0]
            series = [[c, float(m), float(n)] for c in main["charges"]
                      for m, n in [gen.mu_ne(main["dft"], c)]]
            want = electrochem(series, *geometry[mp])
            ok = close5(pzc, want[0]) and close5(cap, want[1])
        if not ok:
            bad.add(name)
    for d, ep2 in enumerate(main["ep2"]):
        with open(os.path.join(run_dir, f"report_{d}", "report.md")) as f:
            md = f.read()
        rows = {r[0]: r for r in report_rows(md)}
        ok = len(rows) == len(ep2["expected"])
        for e in ep2["expected"]:
            r = rows.get(e["mp_id"])
            want = electrochem(e["series"], e["cell00"], e["cell11"])
            ok = ok and r is not None and close5(r[1], want[0]) and close5(r[2], want[1])
        sha = hashlib.sha256(md.encode()).hexdigest()[:24]
        if not ok or sha != first.get(f"ep2_analysis_{d}"):
            bad.add(f"ep2_analysis_{d}")
    return bad


def check_lakehouse(res, man, first):
    """Recompute every read from the generated orders and merge batches:
    version 1 is the written table, merge m makes version m + 2."""
    main = man["main"]
    con = duckdb.connect()
    versions = [f"SELECT * FROM read_parquet('{main['orders']}')"]
    for m in main["merges"]:
        versions.append(f"SELECT * FROM ({versions[-1]}) WHERE o_orderkey NOT IN "
                        f"(SELECT o_orderkey FROM read_parquet('{m}')) "
                        f"UNION ALL SELECT * FROM read_parquet('{m}')")

    def summary(sql, where="TRUE"):
        n, k, c = con.execute(f"SELECT count(*), coalesce(sum(o_orderkey), 0), "
                              f"coalesce(sum(round(o_totalprice * 100)::BIGINT), 0) "
                              f"FROM ({sql}) WHERE {where}").fetchone()
        return f"{n}:{k}:{c}"

    bad, current = set(), 1
    for i, step in enumerate(main["plan"]):
        if step["op"] == "merge":
            current = step["batch"] + 2
        elif step["op"] == "pruned":
            want = summary(versions[current - 1], f"o_orderkey BETWEEN {step['lo']} AND {step['hi']}")
            if first.get(f"pruned_{i}") != want:
                bad.add(f"pruned_{i}")
        else:
            if first.get(f"version_{i}") != summary(versions[step["version"] - 1]):
                bad.add(f"version_{i}")
    if not first.get("vacuum", "").endswith(":" + summary(versions[-1])):
        bad.add("vacuum")
    return bad


def ensure_spark_home():
    """Keep SPARK_HOME, or set it to the first installation on the PATH
    whose spark-submit sits beside a jars directory."""
    if "SPARK_HOME" in os.environ:
        return
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            os.environ["SPARK_HOME"] = home
            return
    die("no Spark installation with jars/ on the PATH: set SPARK_HOME")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    ensure_spark_home()
    build()
    deadline = time.time() + RUN_LIMIT_S
    manifest, man = inputs(a.workload, a.seed)
    archive = class_archive(a.workload, manifest, deadline)
    env = environment()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    run_dir = run_jvm(a.workload, manifest, a.seconds, a.trace, out, deadline,
                      "-XX:SharedArchiveFile=" + archive)
    with open(out) as f:
        res = json.load(f)

    ops = res["ops"]
    first = {o["name"]: o["digest"] for o in ops if o["pass"] == 0}
    if "error" in res["checks"]:
        wrong = set(first)
    elif a.workload == "curate":
        wrong = check_curate(res, man, first)
    elif a.workload == "echem_screen":
        wrong = check_echem(res, man, first, run_dir)
    else:
        wrong = check_lakehouse(res, man, first)
    # digests must also repeat across runs of one seed in this checkout,
    # whatever the library's version, while the benchmark's code is the same
    seen = os.path.join(os.path.dirname(manifest),
                        f"digests-{source_stamp(BENCH_SOURCES)[:16]}.json")
    before = None
    if os.path.exists(seen):
        with open(seen) as f:
            before = json.load(f)
        wrong |= {k for k, v in first.items() if before.get(k, v) != v}
    failed = sum(1 for o in ops if not o["ok"] or o["digest"] != first[o["name"]]
                 or o["name"] in wrong)
    if before is None and failed == 0:
        with open(seen, "w") as f:
            json.dump(first, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        layers = dict(res["layers"], **{"spark.peak_rss_mb": res["peak_rss_mb"]})
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        figures = {"setup_s": res["setup_s"], "wall_s": res["wall"]["median"],
                   "write_p50_s": res["write"]["median"], "read_p50_s": res["read"]["median"]}
        metrics = {k: {"value": figures[k], "unit": u} for k, u in END_TO_END}

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "env": env,
              "input_size": man["main"]["size"], "passes": res["passes"],
              "setup_s": res["setup_s"], "timings": {k: res[k] for k in ("wall", "write", "read")},
              "peak_rss_mb": res["peak_rss_mb"], "spans": res["spans"],
              "attempted": len(ops), "failed": failed,
              "error_rate": failed / len(ops), "wrong_outputs": sorted(wrong),
              "digests": first}
    if a.trace:
        untraced = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t0.summary.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["timings"]["wall"]["median"]
            record["tracing_overhead_s"] = res["wall"]["median"] - base
    with open(out.replace(".json", ".summary.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("perfbench " + json.dumps(record, sort_keys=True))
    for k, m in metrics.items():
        if not a.trace or m["value"]:
            print(f"  {k:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


def unit_of(metric):
    leaf = metric.rsplit(".", 1)[1]
    return {"calls": "count", "jobs": "count", "tasks": "count", "failed_tasks": "count",
            "shuffle_write_mb": "MB", "cache_mb": "MB", "spill_mb": "MB",
            "peak_rss_mb": "MB"}.get(leaf, "s")


if __name__ == "__main__":
    main()
