"""Star-contraction connected components vs union-find ground truth and
vs the min-label implementation."""
import random

import pytest

from information_extraction_t5_spark.operators.canonicalize import (
    canonical_entities,
    connected_components,
    connected_components_star,
)


def _truth(edges_py):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    comps = {}
    for n in list(parent):
        comps.setdefault(find(n), []).append(n)
    for root, members in comps.items():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@pytest.mark.parametrize("case", ["path", "random", "mix"])
def test_star_cc_matches_union_find(spark, case):
    if case == "path":
        edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)]
    elif case == "random":
        r = random.Random(5)
        edges = [
            (f"v{r.randint(0, 199):03d}", f"v{r.randint(0, 199):03d}")
            for _ in range(150)
        ]
        edges = [e for e in edges if e[0] != e[1]]
    else:
        edges = [("a", "hub"), ("b", "hub"), ("c", "hub"),
                 ("x1", "x2"), ("x2", "x3"), ("x3", "x4"), ("q", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"]
           for r in connected_components_star(df).collect()}
    assert got == _truth(edges)


def test_distributed_star_moderate_scale(spark):
    """Forced-distributed star contraction at moderate scale (VERDICT r5
    item 5; bench-scale twin: tools/soak_distributed_cc.py): a 512-node
    chain (log-round stressor), a 3000-edge hot star (skew stressor) and
    10k random edges, driver_threshold=0 — must converge to union-find
    truth through star contraction alone."""
    r = random.Random(11)
    edges = [(f"c{i:05d}", f"c{i + 1:05d}") for i in range(512)]
    edges += [(f"h{r.randint(0, 4999):05d}", "hub") for _ in range(3000)]
    edges += [
        (f"r{r.randint(0, 9999):05d}", f"r{r.randint(0, 9999):05d}")
        for _ in range(10000)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        row["node"]: row["component"]
        for row in connected_components_star(
            df, driver_threshold=0
        ).collect()
    }
    assert got == _truth(edges)


def test_star_and_minlabel_agree_on_shallow_graph(spark):
    edges = [("m1", "m2"), ("m2", "m3"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {r["node"]: r["component"]
         for r in connected_components_star(df).collect()}
    b = {r["node"]: r["component"]
         for r in connected_components(df).collect()}
    assert a == b == _truth(edges)


def test_canonical_entities_null_keys_and_duplicates(spark):
    """Invariants of the window-min edge build (late r7, one exchange):

    - rows with a NULL mention_key must produce NO edges (the former
      join-on-key form could never match NULLs; a naive window partition
      would silently merge every NULL-key mention into one entity);
    - duplicate (mention, key) rows emit duplicate edges, which must not
      change any label (union-find is duplicate-insensitive);
    - a NULL mention under a shared key must not change its key's rep.
    Checked on BOTH CC paths.
    """
    rows = [
        ("A", "k1"), ("B", "k1"), ("B", "k1"),   # duplicate pair row
        (None, "k1"),                            # NULL mention: no edge
        ("C", None), ("D", None),                # NULL keys: no link C-D
        ("E", "k2"),
    ]
    mentions = spark.createDataFrame(
        rows, "conv_id string, mention_key string")
    for threshold in (10**6, 0):                 # driver path, distributed
        got = {r["mention"]: r["canonical_id"]
               for r in canonical_entities(
                   mentions, driver_threshold=threshold).collect()}
        assert got["A"] == got["B"] == "A"
        assert got["C"] == "C" and got["D"] == "D"   # NOT merged via NULL
        assert got["E"] == "E"


def test_canonical_entities_chain_across_keys(spark):
    """A->k1<-B->k2<-C->k3<-D: a 4-mention chain through 3 shared keys
    must collapse to one entity (the adversarial case for min-label)."""
    mentions = spark.createDataFrame(
        [("A", "k1"), ("B", "k1"), ("B", "k2"), ("C", "k2"),
         ("C", "k3"), ("D", "k3"), ("E", "k9")],
        "conv_id string, mention_key string",
    )
    got = {r["mention"]: r["canonical_id"]
           for r in canonical_entities(mentions).collect()}
    assert got["A"] == got["B"] == got["C"] == got["D"] == "A"
    assert got["E"] == "E"


@pytest.mark.parametrize("case", ["path", "random"])
def test_driver_fast_path_matches_distributed(spark, case):
    """The small-graph union-find fast path and the distributed star
    contraction must label identically (driver_threshold=0 forces the
    10^12-scale path)."""
    if case == "path":
        edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    else:
        r = random.Random(11)
        edges = [
            (f"v{r.randint(0, 99):03d}", f"v{r.randint(0, 99):03d}")
            for _ in range(120)
        ]
        edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = {r["node"]: r["component"]
            for r in connected_components_star(df).collect()}
    dist = {r["node"]: r["component"]
            for r in connected_components_star(
                df, driver_threshold=0).collect()}
    assert fast == dist == _truth(edges)


def test_config_threshold_zero_forces_distributed_path(spark, monkeypatch):
    """cc_driver_threshold is plumbed from PipelineConfig: 0 must reach the
    distributed star contraction (the union-find fast path never runs),
    while the default config takes the fast path on a small graph."""
    from information_extraction_t5_spark.operators import canonicalize as cz
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        canonicalize_subjects,
    )

    calls = []
    real = cz._driver_union_find
    monkeypatch.setattr(
        cz, "_driver_union_find", lambda pairs: calls.append(1) or real(pairs)
    )

    triples = spark.createDataFrame(
        [("c1", "form.cpf", "111"), ("c2", "form.cpf", "111"),
         ("c1", "form.nome_completo", "Ana Silva"),
         ("c3", "form.nome_completo", "Ana Silva")],
        "conv_id string, pred string, obj string",
    )

    cfg0 = PipelineConfig(fuzzy_link=False, cc_driver_threshold=0)
    out0 = {r["conv_id"]: r["subj"]
            for r in canonicalize_subjects(triples, cfg0).select(
                "conv_id", "subj").distinct().collect()}
    assert calls == []  # distributed path only

    cfg_fast = PipelineConfig(fuzzy_link=False)
    out_fast = {r["conv_id"]: r["subj"]
                for r in canonicalize_subjects(triples, cfg_fast).select(
                    "conv_id", "subj").distinct().collect()}
    assert calls  # fast path taken by default on a tiny graph
    assert out0 == out_fast
    assert out0["c1"] == out0["c2"] == out0["c3"] == "ent:c1"
