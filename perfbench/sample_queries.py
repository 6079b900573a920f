#!/usr/bin/env python3
"""Derives query_mix's fixed query sample from measured per-query times.

    python3 perfbench/sample_queries.py BENCH_r18_c8.json [n_batch] [n_stream]

Reads a `graft.Bench` result (its `parsed.queries_warm` list of per-query
warm seconds) and prints the sample `QueryMix.Batch` and `QueryMix.Streams`
pin, with the sample's median, mean and implied total next to the full
set's. The benchmark does not run this; it documents and reproduces the
choice.

Batch population: every declared query that lands no commit, i.e. not a
`delta_*`, `stream_*` or `catalog_*` query, not a `*_dml` or `*_write*`
query, and no table-maintenance query. Stream population: the `stream_*`
queries.

Rule: sort the population by warm time and cut it into n strata of equal
count. From each stratum take the query nearest the stratum's median time.
Queries within 5 % of that median count as equally near; among them a query
of a pipeline family (dedup, similarity, text, multimodal) the sample does
not cover yet wins, so every `pipeline.op_ms.*` metric has a query. Ties go
to the name that sorts first.
"""
import json
import os
import re
import statistics as st
import sys

MAINTENANCE = ("compact", "rewrite", "zorder", "vacuum", "expire", "restore",
               "rollback", "clone", "branch", "wap")
# pipeline.op_ms.<family> -> the Scala objects whose QueryDefs it covers
FAMILIES = {"dedup": ["Dedup"], "similarity": ["Similarity"],
            "text": ["TextOps", "PipelineQueries"], "multimodal": ["Multimodal"]}
NEAR = 0.05


def lands_no_commit(n):
    if n.startswith(("delta_", "stream_", "catalog_")):
        return False
    if n.endswith("_dml") or "_write" in n:
        return False
    return not any(m in n for m in MAINTENANCE)


def families(root):
    out = {}
    for fam, objs in FAMILIES.items():
        for o in objs:
            path = os.path.join(root, "src", "main", "scala", "graft", "pipeline", o + ".scala")
            with open(path) as f:
                for n in re.findall(r'QueryDef\("([a-z0-9_]+)"', f.read()):
                    out[n] = fam
    return out


def stratified(pop, k, fam):
    """pop: sorted (seconds, name). Returns k picks, one per stratum."""
    picks, covered = [], set()
    for i in range(k):
        s = pop[i * len(pop) // k:(i + 1) * len(pop) // k]
        m = st.median(v for v, _ in s)
        near = [x for x in s if abs(x[0] - m) <= NEAR * m] or s
        new = [x for x in near if fam.get(x[1]) and fam[x[1]] not in covered]
        pick = min(new or near, key=lambda x: (abs(x[0] - m), x[1]))
        covered.add(fam.get(pick[1]))
        picks.append(pick)
    return picks


def summary(label, xs, n_full):
    v = [t for t, _ in xs]
    print(f"  {label:8s} n={len(v):3d}  median {st.median(v):.3f} s  mean {st.mean(v):.3f} s  "
          f"implied total for {n_full} queries {st.mean(v) * n_full:.1f} s")


def main():
    path = sys.argv[1]
    k_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    k_stream = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    with open(path) as f:
        warm = dict(json.load(f)["parsed"]["queries_warm"])
    fam = families(os.getcwd())
    total = sum(warm.values())
    for label, pop, k in (
            ("batch", sorted((v, n) for n, v in warm.items() if lands_no_commit(n)), k_batch),
            ("stream", sorted((v, n) for n, v in warm.items() if n.startswith("stream_")), k_stream)):
        picks = stratified(pop, k, fam)
        print(f"{label}: {', '.join(n for _, n in picks)}")
        summary("full", pop, len(pop))
        summary("sample", picks, len(pop))
        print(f"  full set share of the suite's warm total: "
              f"{sum(v for v, _ in pop) / total:.3f} ({sum(v for v, _ in pop):.1f} of {total:.1f} s)")
        print(f"  covered families: {sorted({fam[n] for _, n in picks if n in fam})}")


if __name__ == "__main__":
    main()
