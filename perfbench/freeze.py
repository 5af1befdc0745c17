#!/usr/bin/env python3
"""Derives the frozen query lists from census.json and writes workloads.json.

    python3 perfbench/freeze.py

The lists are frozen: rerun this only to define a new benchmark, never
because a query got faster or slower. The rule, applied to census.json:

- A query is eligible when its oracle SQL (if it has one) ran in DuckDB
  in under ORACLE_MAX_S s; every run checks every output, and the oracle
  answers are computed once per checkout, so this bounds a checkout's
  first run. tpch_* queries go only to tpch_x10.
- session_sf01: one in every LIGHT_STRIDE light queries (warm < LIGHT_MS
  ms) in sorted-name order, starting with the first, plus one in every
  WRITER_STRIDE light queries that build a graft.sources.Materialize
  artifact on their cold run.
- tpch_x10: one in every TPCH_STRIDE tpch queries by query number,
  starting with q1.

The strides keep a cold pass near 10 s and a warm pass near 2 s (run.py's
PASS_S), which keeps a run near a minute.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_MAX_S = 2.0
LIGHT_MS, LIGHT_STRIDE, WRITER_STRIDE = 500, 20, 10
TPCH_STRIDE = 6

WHY = {
    "session_sf01": (
        "An analyst's session of floor-bound light queries: construction, planning and "
        "the time between jobs dominate, and the cold pass writes the artifacts the "
        "warm passes read."),
    "tpch_x10": (
        "TPC-H on a seeded 10x key-shifted blow-up dealt to 8 files per table: parallel "
        "scans and real shuffles, so scan, shuffle and exchange work shows as bytes and CPU."),
}


def lists(census):
    q = census["queries"]
    ok = sorted(n for n, c in q.items()
                if not c["oracle"] or (c["oracle_s"] or 0.0) < ORACLE_MAX_S)
    other = [n for n in ok if not n.startswith("tpch_")]
    light = [n for n in other if q[n]["warm_ms"] < LIGHT_MS and not q[n]["artifacts"]]
    writers = [n for n in other if q[n]["warm_ms"] < LIGHT_MS and q[n]["artifacts"]]
    tpch = sorted((n for n in ok if n.startswith("tpch_")), key=lambda n: int(n[6:]))
    return {
        "session_sf01": sorted(light[::LIGHT_STRIDE] + writers[::WRITER_STRIDE]),
        "tpch_x10": tpch[::TPCH_STRIDE],
    }


def rule_text():
    text = " ".join(__doc__.split("\n\n", 2)[2].split())
    for k in ("ORACLE_MAX_S", "LIGHT_MS", "LIGHT_STRIDE", "WRITER_STRIDE", "TPCH_STRIDE"):
        text = text.replace(k, str(globals()[k]))
    return text


def main():
    census = json.load(open(os.path.join(HERE, "census.json")))
    chosen = lists(census)
    spec = {
        "rule": rule_text(),
        "census": "census.json: " + census["about"],
        "workloads": {
            "session_sf01": {"scale": 0.1, "why": WHY["session_sf01"],
                             "queries": chosen["session_sf01"]},
            "tpch_x10": {"base_scale": 0.01, "factor": 10, "files": 8,
                         "why": WHY["tpch_x10"], "queries": chosen["tpch_x10"]},
        },
    }
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
