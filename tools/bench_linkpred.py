"""Link-prediction scale evidence: the ``max_degree`` cap characterized.

VERDICT r4 item 7: the two-path join in adamic_adar is quadratic in the
shared-neighbor degree — the cap bounds it, but the cost/recall curve
was unmeasured. This tool sweeps ``max_degree`` on a 24M-edge power-law
graph and reports, per cap:

* wall seconds for the full scored-pair build (count action),
* candidate-pair count (the joined volume the cap is bounding),
* two-path row volume Σ deg_z² (the quantity the cap actually cuts),
* recall@k of per-node top-k against the effectively-uncapped reference
  (cap = graph's max degree), on a deterministic node sample.

It also projects — arithmetically, from the degree distribution — the
two-path volume of a crawl-shaped variant where one node sources 10% of
all edges: the uncapped join there is
~10^12 rows, which is WHY the cap ships enabled by default rather than
as an opt-in.

Writes BENCH/runs/linkpred_sweep_<cpus>.json.

Usage:
    python tools/bench_linkpred.py [--edges 24000000] [--caps 100,1000,10000]
        [--topk 10] [--sample 2000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from run_scaling import _make_edges  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=24_000_000)
    ap.add_argument("--caps", type=str, default="100,1000,10000")
    ap.add_argument("--topk", type=int, default=10)
    ap.add_argument("--sample", type=int, default=2000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from plwordnet_spark.cache import CacheScope
    from plwordnet_spark.graph.linkpred import adamic_adar
    from plwordnet_spark.graph.triangles import canonical_undirected
    from plwordnet_spark.session import get_spark

    spark = get_spark(app_name="plwordnet-spark-linkpred", master=f"local[{args.cpus}]")
    n_nodes = max(args.edges // 10, 1)
    edges = _make_edges(spark, args.edges, n_nodes).repartition(args.cpus, "src").cache()
    n_edges = edges.count()

    # undirected degree table once — drives both the two-path-volume
    # accounting and the hub projection
    und = canonical_undirected(edges)
    deg = (
        und.select(F.col("a").alias("z")).unionByName(und.select(F.col("b").alias("z")))
        .groupBy("z").agg(F.count(F.lit(1)).alias("d"))
        .cache()
    )
    max_deg = deg.agg(F.max("d")).first()[0]

    def twopath_volume(cap: int | None) -> int:
        d = deg if cap is None else deg.filter(F.col("d") <= cap)
        # pairs generated per shared neighbor z: d*(d-1)/2
        row = d.agg(
            F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("decimal(38,0)")).alias("v")
        ).first()
        return int(row["v"] or 0)

    # deterministic node sample for recall@k
    sample_ids = F.pmod(F.col("node"), F.lit(max(n_nodes // args.sample, 1))) == 0

    def topk_sets(cap: int | None):
        """{node: frozenset(top-k candidates)} for sampled nodes."""
        with CacheScope() as scope:
            scored = adamic_adar(edges, max_degree=cap, scope=scope)
            per_node = scored.select(
                F.col("a").alias("node"), F.col("b").alias("candidate"), "score"
            ).unionByName(
                scored.select(F.col("b").alias("node"), F.col("a").alias("candidate"), "score")
            ).filter(sample_ids)
            w = Window.partitionBy("node").orderBy(F.desc("score"), F.asc("candidate"))
            rows = (
                per_node.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= args.topk)
                .select("node", "candidate")
                .collect()
            )
        out: dict[int, set] = {}
        for r in rows:
            out.setdefault(r.node, set()).add(r.candidate)
        return out

    # reference = effectively uncapped (cap at the graph's max degree)
    ref_cap = int(max_deg)
    sweep: list[dict] = []
    caps: list[int | None] = [int(c) for c in args.caps.split(",")] + [ref_cap]
    ref_sets: dict[int, set] | None = None
    for cap in sorted(set(caps)):
        with CacheScope() as scope:
            t0 = time.time()
            scored = adamic_adar(edges, max_degree=cap, scope=scope)
            n_pairs = scored.count()
            sec = round(time.time() - t0, 2)
        entry = {
            "max_degree": cap,
            "seconds": sec,
            "candidate_pairs": n_pairs,
            "twopath_rows": twopath_volume(cap),
        }
        sweep.append(entry)
    # recall pass (separate from the timed pass so collect cost doesn't
    # pollute the build timings); reference last element == ref_cap
    ref_sets = topk_sets(ref_cap)
    for entry in sweep:
        if entry["max_degree"] == ref_cap:
            entry["recall_at_k"] = 1.0
            continue
        got = topk_sets(entry["max_degree"])
        hits = sum(len(got.get(n, set()) & s) for n, s in ref_sets.items())
        total = sum(len(s) for s in ref_sets.values())
        entry["recall_at_k"] = round(hits / total, 4) if total else None

    # crawl-hub projection: re-source 10% of edges to node 0 and compute
    # the UNCAPPED two-path volume arithmetically — no join is run
    hub_deg = int(0.10 * n_edges)
    projection = {
        "hub_src_pct": 10,
        "hub_degree": hub_deg,
        "uncapped_twopath_rows_from_hub_alone": hub_deg * (hub_deg - 1) // 2,
        "capped_10000_twopath_rows_from_hub": 0,
        "note": "hub excluded by any cap <= its degree; uncapped join is "
                "~10^13 rows from one node — why the cap defaults ON",
    }

    out = {
        "kind": "linkpred_sweep",
        "cpus": args.cpus,
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "max_observed_degree": int(max_deg),
        "topk": args.topk,
        "sampled_nodes": len(ref_sets),
        "sweep": sweep,
        "hub_projection": projection,
    }
    deg.unpersist()
    edges.unpersist()
    os.makedirs(os.path.join(REPO, "BENCH", "runs"), exist_ok=True)
    with open(
        os.path.join(REPO, "BENCH", "runs", f"linkpred_sweep_{args.cpus}.json"),
        "w", encoding="utf-8",
    ) as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
