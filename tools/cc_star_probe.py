"""CC star-round stress probe → STRESS.md '## CC star rounds'.

b19_neardup_clusters' transitive closure is adaptive: ≤2M deduped
edges collect to driver union-find (the broadcast contract), above
that the alternating large-star/small-star rounds run distributed
(operators/graph.py). Bench-scale corpora never cross 2M, so the
STRESS.md table's flat CC ratios only exercise the driver branch.
This probe forces the DISTRIBUTED branch with synthetic edge lists
well past the threshold — length-64 chains, the adversarial shape for
label propagation (diameter 63) that the star alternation contracts
in O(log n) rounds — at 1× (4M edges) and 10× (40M edges), timing
end-to-end and verifying the component census exactly.

Usage: python tools/cc_star_probe.py
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from pyspark.sql import functions as F  # noqa: E402

from md_sections import replace_section  # noqa: E402

STRESS_MD = "/root/repo/STRESS.md"
SECTION = "## CC star rounds"
CHAIN = 64


def chain_edges(spark, n_edges: int):
    """(i, i+1) edges skipping every CHAIN-th — disjoint chains of
    CHAIN nodes (diameter CHAIN-1), fully distributed generation."""
    return (
        spark.range(n_edges * CHAIN // (CHAIN - 1) + CHAIN)
        .filter((F.col("id") + 1) % CHAIN != 0)
        .limit(n_edges)
        .select(F.col("id").alias("d1"), (F.col("id") + 1).alias("d2"))
    )


def probe(spark, n_edges: int) -> dict:
    from iot_system_plc_data_to_influxdb_spark.operators.graph import (
        connected_components,
    )

    edges = chain_edges(spark, n_edges).localCheckpoint()
    n = edges.count()
    t0 = time.perf_counter()
    labels, rounds = connected_components(edges)
    census = labels.agg(
        F.countDistinct("component").alias("ncomp"),
        F.count("*").alias("nodes"),
        F.sum(
            (F.col("component") % CHAIN == 0).cast("bigint")
        ).alias("roots_aligned"),
    ).first()
    wall = time.perf_counter() - t0
    assert rounds > 0, "driver branch fired — raise n_edges past 2M"
    # every node's label must be its chain's min node — a multiple of
    # CHAIN — so the aligned-label count equals the node count
    assert census["roots_aligned"] == census["nodes"], census
    return {
        "edges": n,
        "rounds": rounds,
        "wall": wall,
        "ncomp": census["ncomp"],
        "nodes": census["nodes"],
    }


def main() -> int:
    from iot_system_plc_data_to_influxdb_spark.session import get_spark

    spark = get_spark("cc-star-probe")
    rows = []
    for n_edges in (4_000_000, 40_000_000):
        r = probe(spark, n_edges)
        exp_comp = r["nodes"] // CHAIN + (1 if r["nodes"] % CHAIN else 0)
        ok = r["ncomp"] == exp_comp
        rows.append((r, ok))
        print(
            f"edges={r['edges']:,} rounds={r['rounds']} "
            f"wall={r['wall']:.1f}s comps={r['ncomp']:,} "
            f"(expected {exp_comp:,}, {'OK' if ok else 'MISMATCH'})"
        )
    ratio = rows[1][0]["wall"] / rows[0][0]["wall"]
    body = "\n".join(
        [
            f"{SECTION}: distributed branch past the 2M contract "
            "(tools/cc_star_probe.py)",
            "",
            "b19_neardup_clusters' CC collects ≤2M deduped edges to",
            "driver union-find; this probe forces the DISTRIBUTED",
            "large-star/small-star branch with synthetic length-64",
            "chains (diameter 63 — the worst case O(log n) alternation",
            "exists for) and verifies the exact component census:",
            "",
            "| edges | star rounds | wall (s) | components (exact) |",
            "|---|---|---|---|",
            *[
                f"| {r['edges']:,} | {r['rounds']} | {r['wall']:.1f} | "
                f"{r['ncomp']:,} {'✓' if ok else '✗'} |"
                for r, ok in rows
            ],
            "",
            f"10× edges → {ratio:.1f}× wall at the SAME round count —",
            "the alternation count depends on component diameter, not",
            "edge volume, so scale-up widens each round's shuffles",
            "(linear work) instead of adding rounds. Per-round cost is",
            "two shuffles over the contracting edge set; the driver",
            "sees one scalar checksum per round, no data.",
        ]
    )
    replace_section(STRESS_MD, SECTION, body)
    print("wrote STRESS.md CC section")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
