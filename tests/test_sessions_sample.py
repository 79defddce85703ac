"""Connected components against a Python union-find oracle."""

from __future__ import annotations


# ----------------------------------------------- property vs python oracles


def test_connected_components_matches_union_find(spark):
    """Seeded random graph: min-label components == python union-find."""
    import random

    from ndap_data_validator_spark.operators.dedup import connected_components

    rng = random.Random(7)
    nodes = list(range(120))
    edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(90)
        }
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["comp"] for r in connected_components(pairs).collect()
    }

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    expected = {}
    comp_min: dict[int, int] = {}
    for n in sorted(touched):
        comp_min.setdefault(find(n), n)
    for n in touched:
        expected[n] = comp_min[find(n)]
    assert got == expected
