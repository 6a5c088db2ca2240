#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Every input a workload feeds the library is built here from the seed;
the same (workload, seed) always gives byte-identical inputs, and any
seed gives inputs of the same size (the counts below are fixed, only
the content varies), so a claim made on one seed can be re-checked on
an unseen one.

Usage: gen.py WORKLOAD SEED OUTDIR
Writes OUTDIR/main (the inputs of the warm-up and the timed passes),
OUTDIR/check where an output check needs a smaller input, and
OUTDIR/manifest.json (sizes and the parameters the output checks need).
"""
import json
import os
import random
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(ROOT, "src", "test", "resources", "fixtures")
CORPUS_TOOL = os.path.join(ROOT, "tools", "gen_scale_corpus.py")

# Stated input sizes, recorded in BENCHMARK.json's workload "why" lines
# and in every result.
SIZES = {
    "curate": {"docs": 4000, "vectors": 600},
    "echem_screen": {"batches": 2, "bulks_per_batch": 300, "ep2_dirs": 2,
                     "ep2_materials": 20, "charges": [-0.1, 0.0, 0.1]},
    "lakehouse": {"orders": 40000, "merges": 2, "merge_rows": 1000, "reads": 4},
}
# Inputs of the output checks that cannot run on the timed inputs: the
# q_cluster_best oracle's recursive reachability CTE takes ~28 s in
# DuckDB at 4,000 documents and ~1 s at 600.
CHECK = {"curate": {"docs": 600, "vectors": 150}}


def corpus(out, docs, vectors, seed):
    """Sparse corpus from the repo's scale-corpus tool at the documents'
    multiple of the sf0.1 shape; the embeddings are cut to the first
    `vectors` rows (the banded embedding search costs far more per row
    than the text chain), which keeps the near-copies among them."""
    os.makedirs(out, exist_ok=True)
    subprocess.run([sys.executable, CORPUS_TOOL, out, repr(docs / 5000), str(seed), "--sparse"],
                   check=True, stdout=subprocess.DEVNULL)
    emb = os.path.join(out, "embeddings.parquet")
    pq.write_table(pq.read_table(emb).slice(0, vectors), emb)
    for extra in set(os.listdir(out)) - {"documents.parquet", "embeddings.parquet"}:
        os.remove(os.path.join(out, extra))
    return {"docs": pq.ParquetFile(os.path.join(out, "documents.parquet")).metadata.num_rows,
            "vectors": pq.ParquetFile(emb).metadata.num_rows}


def parse_poscar(text):
    lines = text.splitlines()
    return {"title": lines[0], "scale": lines[1],
            "lattice": [[float(x) for x in lines[i].split()] for i in (2, 3, 4)],
            "species": lines[5], "counts": lines[6], "mode": lines[7],
            "sites": [(list(map(float, l.split()[:3])), " ".join(l.split()[3:]))
                      for l in lines[8:] if l.strip()]}


def render_poscar(p):
    out = [p["title"], p["scale"]]
    out += ["  " + "  ".join(f"{x:.16f}" for x in row) for row in p["lattice"]]
    out += [p["species"], p["counts"], p["mode"]]
    out += ["  " + "  ".join(f"{x:.16f}" for x in xyz) + (" " + lab if lab else "")
            for xyz, lab in p["sites"]]
    return "\n".join(out) + "\n"


def perturb(p, rnd):
    """Perturbed copy of a fixture bulk: lattice scaled by up to ±2%
    per axis, sites jittered by up to ±0.002 (fractional)."""
    q = dict(p)
    q["lattice"] = [[x * (1.0 + rnd.uniform(-0.02, 0.02)) for x in row] for row in p["lattice"]]
    q["sites"] = [([(x + rnd.uniform(-0.002, 0.002)) % 1.0 for x in xyz], lab)
                  for xyz, lab in p["sites"]]
    return q


def fillings_template():
    """The golden charge-0 JDFTx log with its final FillingsUpdate values
    replaced by @MU@ / @NE@: the synthetic DFT step and the EP2 log
    directory emit logs of the golden length whose converged values are
    the seeded ones."""
    with open(os.path.join(FIXTURES, "gc_dft", "mp-755394-111-3_0.0.out")) as f:
        lines = f.read().split("\n")
    last = max(i for i, l in enumerate(lines) if "FillingsUpdate:" in l)
    lines[last] = "\tFillingsUpdate:  mu: @MU@  nElectrons: @NE@"
    return "\n".join(lines)


def fill(template, mu, ne):
    return template.replace("@MU@", mu).replace("@NE@", ne)


def dft_params(rnd):
    """Synthetic DFT response: mu is linear in the charge, nElectrons
    moves one electron per unit charge."""
    return {"mu0": round(rnd.uniform(-0.20, -0.17), 6), "dmu": round(rnd.uniform(0.01, 0.03), 6),
            "ne0": float(rnd.randrange(200, 300))}


def mu_ne(params, charge, jitter=0.0):
    mu = f"{params['mu0'] + jitter + params['dmu'] * charge:.9f}"
    ne = f"{params['ne0'] - charge:.6f}"
    return mu, ne


def echem(out, size, rnd):
    bulks = {}
    for name in sorted(os.listdir(os.path.join(FIXTURES, "bulk_poscars"))):
        with open(os.path.join(FIXTURES, "bulk_poscars", name)) as f:
            bulks[name[:-len(".poscar")]] = parse_poscar(f.read())
    names = sorted(bulks)
    batches = []
    for b in range(size["batches"]):
        d = os.path.join(out, "bulks", f"batch{b}")
        os.makedirs(d, exist_ok=True)
        for i in range(size["bulks_per_batch"]):
            src = names[i % len(names)]
            key = f"b{b}-{i:04d}-{src}"
            with open(os.path.join(d, key + ".poscar"), "w") as f:
                f.write(render_poscar(perturb(bulks[src], rnd)))
        batches.append(d)
    template = fillings_template()
    with open(os.path.join(out, "template.out"), "w") as f:
        f.write(template)
    params = dft_params(rnd)
    # EP2: directories of finished runs (one log per material x charge)
    # plus the slab POSCARs their geometry comes from
    with open(os.path.join(FIXTURES, "slab_poscars", "mp-755394-111-3.poscar")) as f:
        slab = parse_poscar(f.read())
    ep2 = []
    for d in range(size["ep2_dirs"]):
        logs, slabs = os.path.join(out, f"ep2_{d}", "logs"), os.path.join(out, f"ep2_{d}", "slabs")
        os.makedirs(logs, exist_ok=True)
        os.makedirs(slabs, exist_ok=True)
        expected = []
        for m in range(size["ep2_materials"]):
            key = f"ep2-{d}-{m:05d}"
            s = perturb(slab, rnd)
            with open(os.path.join(slabs, key + ".poscar"), "w") as f:
                f.write(render_poscar(s))
            jitter = round(rnd.uniform(-0.005, 0.005), 6)
            series = []
            for c in size["charges"]:
                mu, ne = mu_ne(params, c, jitter)
                with open(os.path.join(logs, f"{key}_{c}.out"), "w") as f:
                    f.write(fill(template, mu, ne))
                series.append([c, float(mu), float(ne)])
            expected.append({"mp_id": key, "cell00": s["lattice"][0][0] * float(s["scale"]),
                             "cell11": s["lattice"][1][1] * float(s["scale"]), "series": series})
        ep2.append({"logs": logs, "slabs": slabs, "expected": expected})
    return {"batches": batches, "template": os.path.join(out, "template.out"),
            "dft": params, "charges": size["charges"], "ep2": ep2,
            "size": {"bulks": size["batches"] * size["bulks_per_batch"],
                     "ep2_logs": size["ep2_dirs"] * size["ep2_materials"] * len(size["charges"])}}


def lakehouse(out, size, rnd):
    """TPC-H-shaped orders (sparse keys, as TPC-H's are), a sequence of
    merge batches (price updates to existing keys plus new keys) and a
    seeded interleave of pruned range reads and time-travel reads."""
    os.makedirs(os.path.join(out, "merges"), exist_ok=True)
    n = size["orders"]
    keys = sorted(rnd.sample(range(1, 8 * n), n))
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    base_ts = 694224000000000  # 1992-01-01 in microseconds

    def rows(ks):
        return {"o_orderkey": pa.array(ks, pa.int64()),
                "o_custkey": pa.array([rnd.randrange(1, 15001) for _ in ks], pa.int64()),
                "o_orderstatus": pa.array([rnd.choice("FOP") for _ in ks], pa.string()),
                "o_totalprice": pa.array([rnd.randrange(90000, 50000000) / 100.0 for _ in ks],
                                         pa.float64()),
                "o_orderdate": pa.array([base_ts + rnd.randrange(0, 2400) * 86400000000 for _ in ks],
                                        pa.timestamp("us")),
                "o_orderpriority": pa.array([rnd.choice(prios) for _ in ks], pa.string())}

    pq.write_table(pa.table(rows(keys)), os.path.join(out, "orders.parquet"))
    hi = 8 * n
    merges = []
    for m in range(size["merges"]):
        n_new = size["merge_rows"] // 5
        upd = sorted(rnd.sample(keys, size["merge_rows"] - n_new))
        new = list(range(hi + 1, hi + 1 + n_new))
        hi += n_new
        keys = sorted(set(keys) | set(new))
        path = os.path.join(out, "merges", f"m{m}.parquet")
        pq.write_table(pa.table(rows(upd + new)), path)
        merges.append(path)
    # the interleave: after merge m, reads of the live version and of
    # an earlier retained version
    plan = []
    reads_per_merge = max(1, size["reads"] // max(1, size["merges"]))
    for m in range(size["merges"]):
        plan.append({"op": "merge", "batch": m})
        for r in range(reads_per_merge):
            if r % 2 == 0:
                lo = rnd.randrange(1, hi)
                plan.append({"op": "pruned", "lo": lo, "hi": lo + rnd.randrange(hi // 40, hi // 10)})
            else:
                plan.append({"op": "version", "version": rnd.randrange(1, m + 2)})
    return {"orders": os.path.join(out, "orders.parquet"), "merges": merges, "plan": plan,
            "size": {"orders": n, "merges": size["merges"], "merge_rows": size["merge_rows"],
                     "reads": sum(1 for p in plan if p["op"] != "merge")}}


def generate(workload, seed, outdir):
    man = {"workload": workload, "seed": seed}
    for part, sizes, sub_seed in (("main", SIZES, seed), ("check", CHECK, seed + 7919)):
        if workload not in sizes:
            continue
        out = os.path.join(outdir, part)
        rnd = random.Random(f"{workload}:{sub_seed}")
        size = sizes[workload]
        if workload == "curate":
            man[part] = {"dir": out, "size": corpus(out, size["docs"], size["vectors"], sub_seed)}
        elif workload == "echem_screen":
            man[part] = echem(out, size, rnd)
            man[part]["dir"] = out
        elif workload == "lakehouse":
            man[part] = lakehouse(out, size, rnd)
            man[part]["dir"] = out
        else:
            raise SystemExit(f"unknown workload {workload}")
    with open(os.path.join(outdir, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1)
    return man


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
