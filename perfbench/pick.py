#!/usr/bin/env python3
"""Choose the catalog workload's queries from a full-catalog probe.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 1 --trace 0 --probe
    python3 perfbench/pick.py .bench_build/records/catalog-seed1-trace0-<ms>.json

The rule: a catalog query is eligible when its reference is recorded in
`perfbench/refs/catalog-full.tsv` and it ran without failure in every pass
of the probe. Its cost is its median warm latency (build + plan + execute)
over the probe's warm passes. The eligible queries, sorted by cost, are
cut into K = 12 strata of equal count (what fits the time of a run). From
each stratum the query is taken whose split of its own cost is closest to
the stratum's split as a whole: the sum of the absolute differences of the
build, plan and cold-extra (first call minus warm median) shares. The
subset thus
follows the catalog's cost distribution quantile by quantile, and within
each quantile its mix of build, planning and first-call work.

Writes `perfbench/catalog_queries.txt` and prints how the subset's split
into build, plan and execute time, and its cold-pass extra, compare with
those of the whole catalog.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
K = 12


def shares(rows):
    b, p, e = (sum(r[k] for r in rows) for k in ("build", "plan", "exec"))
    t = b + p + e
    return f"build {b / t:5.1%}  plan {p / t:5.1%}  execute {e / t:5.1%}"


def main(record_path, k=K):
    with open(record_path) as f:
        rec = json.load(f)
    refs = {}
    with open(os.path.join(HERE, "refs", "catalog-full.tsv")) as f:
        for line in f:
            name, fp = line.rstrip("\n").split("\t")
            refs[name] = not fp.startswith("!")
    failed = {f["op"].split(":", 1)[1] for f in rec["failures"]}
    by_query = {}
    for op in rec["ops"]:
        label, name = op["id"].split(":", 1)
        by_query.setdefault(name, {"cold": None, "warm": []})
        t = (op["build_s"], op["plan_s"], op["exec_s"])
        if label == "c":
            by_query[name]["cold"] = t
        else:
            by_query[name]["warm"].append(t)
    rows = []
    for name, q in sorted(by_query.items()):
        if not refs.get(name) or name in failed or not q["warm"] or q["cold"] is None:
            continue
        b, p, e = (statistics.median(t[i] for t in q["warm"]) for i in range(3))
        rows.append({"name": name, "build": b, "plan": p, "exec": e, "cost": b + p + e,
                     "extra": max(0.0, sum(q["cold"]) - (b + p + e))})
    rows.sort(key=lambda r: (r["cost"], r["name"]))
    n = len(rows)
    picked = []
    for i in range(k):
        stratum = rows[i * n // k:(i + 1) * n // k]
        total = sum(r["cost"] for r in stratum)
        split = {x: sum(r[x] for r in stratum) / total for x in ("build", "plan", "extra")}
        picked.append(min(stratum, key=lambda r: (
            sum(abs(r[x] / r["cost"] - split[x]) for x in split), r["name"])))

    out = os.path.join(HERE, "catalog_queries.txt")
    with open(out, "w") as f:
        f.write(f"# {k} catalog queries, one per latency stratum of the {n} eligible ones;\n"
                "# written by perfbench/pick.py from a --probe record (see its rule)\n")
        f.writelines(r["name"] + "\n" for r in sorted(picked, key=lambda r: r["name"]))
    for label, rs in (("catalog", rows), ("subset", picked)):
        cost = sum(r["cost"] for r in rs)
        print(f"{label:8s} {len(rs):4d} queries  {shares(rs)}  "
              f"mean {cost / len(rs) * 1000:6.1f} ms  median "
              f"{statistics.median(r['cost'] for r in rs) * 1000:6.1f} ms  "
              f"cold extra {sum(r['extra'] for r in rs) / cost:5.1%} of warm")
    print(f"excluded {len(by_query) - n}: no reference or failed in the probe")
    for r in picked:
        print(f"  {r['name']:32s} {r['cost'] * 1000:7.1f} ms")
    print(f"wrote {out}")


if __name__ == "__main__":
    main(sys.argv[1])
