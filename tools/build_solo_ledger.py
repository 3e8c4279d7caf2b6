#!/usr/bin/env python3
"""Assemble the sf10 solo ledger (VERDICT r19 item 2) from a Timeit log.

Usage: python3 tools/build_solo_ledger.py <timeit_log> <out_json>

Joins three sources per query:
  - solo_sec / med_sec / first_sec from the Timeit log (48g, min of 3
    reps after the recorded cold first rep — the first-rep column is
    the round-20 cache-honesty addition);
  - duckdb_sec from duckdb_sf10_r18.jsonl (same box, solo; nulls are
    DNFs, 1800.0 is the r18 cap floor — both carried as-is and named
    in the note);
  - conc_r19_sec from bench_sf10_r19.json (12-stream concurrent wall,
    for the conc-vs-solo decomposition the r19 verdict asked for).
"""
import json
import re
import sys


def main() -> None:
    log_path, out_path = sys.argv[1], sys.argv[2]
    rows = {}
    pat = re.compile(
        r"^(q_\w+)\s+min=([\d.]+) med=([\d.]+) first=([\d.]+) s")
    for line in open(log_path):
        m = pat.match(line.strip())
        if m:
            rows[m.group(1)] = {
                "solo_sec": float(m.group(2)),
                "med_sec": float(m.group(3)),
                "first_sec": float(m.group(4)),
            }
    duck = {}
    for line in open("duckdb_sf10_r18.jsonl"):
        duck.update(json.loads(line))
    conc = json.load(open("bench_sf10_r19.json")).get("queries", {})
    out = {}
    for name in sorted(rows):
        r = dict(rows[name])
        d = duck.get(name)
        r["duckdb_sec"] = d
        if d and d > 0:
            r["ratio"] = round(r["solo_sec"] / d, 3)
        c = conc.get(name)
        if c is not None:
            r["conc_r19_sec"] = c
        out[name] = r
    doc = {
        "sf": "sf10 (/tmp/graft_sf10, MakeSf1 K=100)",
        "protocol": (
            "graft.tools.Timeit on Session.local (32 cores) "
            "SPARK_DRIVER_MEM=48g, min of 3 "
            "reps; first_sec = the recorded COLD first rep (table cache + "
            "codegen + any Caches.cached materialization land there), so "
            "cache-warm minima are visible per query; duckdb_sec from "
            "duckdb_sf10_r18.jsonl (solo, same box; null = DNF, 1800.0 = "
            "r18 cap floor); conc_r19_sec from bench_sf10_r19.json "
            "(12-stream, contended — spread 13.9; cite solo for per-query "
            "claims)"),
        "queries": out,
        "n_queries": len(out),
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    over2 = {k: v for k, v in out.items()
             if v.get("ratio") and v["ratio"] > 2
             and v.get("duckdb_sec") not in (None, 1800.0)}
    print(f"{len(out)} queries; >2x vs DuckDB: {len(over2)}")
    for k, v in sorted(over2.items(), key=lambda kv: -kv[1]["ratio"]):
        print(f"  {k:30s} solo={v['solo_sec']:7.2f} duck={v['duckdb_sec']:7.2f} "
              f"ratio={v['ratio']:.2f}")


if __name__ == "__main__":
    main()
