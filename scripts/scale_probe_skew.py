"""Power-law (hub-skew) probe for the degree-quadratic graph shapes
(VERDICT r10 #1): `c17_triangle_count`, `c17_two_hop_neighborhood`,
`c17_local_bridges`.

Every prior graph probe replicated DISJOINT copies of the sf0.1
co-purchase graph — linear edge growth, flat degree distribution — so the
mid-vertex wedge joins (Σ deg(v)² candidate pairs) never met a power-law
hub.  This probe builds one locally, no network needed:

* a Barabási–Albert preferential-attachment graph (n nodes, m=3 edges per
  arrival, endpoint-repeat sampling), which yields the organic deg^-3
  tail, PLUS
* a PLANTED star hub (a mid-range id wired to `hub_deg` distinct nodes) so
  the worst case is controlled and reproducible: one vertex of degree
  ~3e4 contributes ~9e8 wedge pairs to a naive mid-vertex self-join.

The graph is materialized as a synthetic `lineitem.parquet` whose
co-purchase derivation reproduces the edge set EXACTLY: each edge (u, v)
becomes two distinct single-edge orders carrying parts {u, v}, meeting
the support>=2 cut, so the REGISTERED queries (the exact plans the driver
grades) run unmodified against it.

Usage: python scripts/scale_probe_skew.py [n_nodes] [hub_deg] [queries]
       (defaults 50000, 30000, all three)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from logspout_kinesis_tests_spark.plans import REGISTRY  # noqa: E402
from logspout_kinesis_tests_spark.session import get_spark  # noqa: E402

PROBE_DIR = "/tmp/scale_probe_skew"


def ba_edges(n: int, m: int, hub_deg: int, seed: int = 42) -> np.ndarray:
    """(u, v) int64 array, u < v, distinct — BA(n, m) plus a planted star."""
    rng = np.random.RandomState(seed)
    edges: set[tuple[int, int]] = set()
    # seed clique on m+1 vertices
    repeated: list[int] = []
    for i in range(m + 1):
        for j in range(i + 1, m + 1):
            edges.add((i, j))
            repeated += [i, j]
    # preferential attachment: new vertex i wires to m distinct targets
    # sampled from the edge-endpoint multiset (prob ∝ degree)
    for i in range(m + 1, n):
        targets: set[int] = set()
        while len(targets) < m:
            targets.add(repeated[rng.randint(len(repeated))])
        for t in targets:
            edges.add((min(i, t), max(i, t)))
            repeated += [i, t]
    # planted star on a MID-RANGE id: an id-ordered wedge join shields a
    # hub at id 0 (no lower-id neighbors) — the worst case needs the hub's
    # neighbors split across both orientations
    h = n // 2
    spokes = rng.choice(
        np.concatenate([np.arange(h), np.arange(h + 1, n)]),
        size=min(hub_deg, n - 1),
        replace=False,
    )
    for s in spokes:
        edges.add((min(h, int(s)), max(h, int(s))))
    arr = np.array(sorted(edges), dtype=np.int64)
    return arr


def build(spark, n: int, hub_deg: int) -> dict:
    e = ba_edges(n, 3, hub_deg)
    deg = np.bincount(np.concatenate([e[:, 0], e[:, 1]]))
    n_edges = len(e)
    # edge k -> orders 2k (parts u,v) and 2k+1 (parts u,v): support == 2
    ok = np.repeat(np.arange(n_edges, dtype=np.int64) * 2, 2)
    rows = np.empty((4 * n_edges, 2), dtype=np.int64)
    rows[0::4] = np.column_stack([ok[0::2], e[:, 0]])
    rows[1::4] = np.column_stack([ok[0::2], e[:, 1]])
    rows[2::4] = np.column_stack([ok[0::2] + 1, e[:, 0]])
    rows[3::4] = np.column_stack([ok[0::2] + 1, e[:, 1]])
    import pandas as pd

    pdf = pd.DataFrame({"l_orderkey": rows[:, 0], "l_partkey": rows[:, 1]})
    spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet(
        f"{PROBE_DIR}/lineitem.parquet"
    )
    return {
        "n_nodes": int((deg > 0).sum()),
        "n_edges": n_edges,
        "max_deg": int(deg.max()),
        "p99_deg": int(np.percentile(deg[deg > 0], 99)),
        "sum_deg_sq": int((deg.astype(np.float64) ** 2).sum()),
    }


def timed(spark, name: str, repeats: int = 3, budget_s: float = 600.0) -> float:
    build_q = REGISTRY[name].build
    runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        build_q(spark, PROBE_DIR).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        if runs[-1] > budget_s:
            break
    return round(statistics.median(runs), 2)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    hub = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    names = (
        sys.argv[3].split(",")
        if len(sys.argv) > 3
        else [
            "c17_triangle_count",
            "c17_two_hop_neighborhood",
            "c17_local_bridges",
        ]
    )
    spark = get_spark(app_name="scale-probe-skew")
    stats = build(spark, n, hub)
    print(json.dumps({"corpus": stats}))
    for name in names:
        print(json.dumps({"query": name, "sec": timed(spark, name)}))


if __name__ == "__main__":
    main()
