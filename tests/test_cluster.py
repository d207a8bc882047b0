"""Connected-components tests vs a networkx oracle (SURVEY §7.3: CC
convergence & determinism; property: gid invariant under permutation)."""

import networkx as nx
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webdedup.cluster import assign_clusters, connected_components, golden_records
from webdedup.scope import Scope


def _random_edges(n_nodes: int, n_edges: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    a = rng.integers(0, n_nodes, size=n_edges)
    b = rng.integers(0, n_nodes, size=n_edges)
    return pd.DataFrame(
        {"url_a": [f"n{int(x):04d}" for x in a], "url_b": [f"n{int(x):04d}" for x in b]}
    )


def _nx_components(edges: pd.DataFrame) -> dict[str, str]:
    g = nx.Graph()
    g.add_edges_from(zip(edges["url_a"], edges["url_b"]))
    out = {}
    for comp in nx.connected_components(g):
        gid = min(comp)
        for node in comp:
            out[node] = gid
    return out


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(0, 50, 40), (1, 200, 150), (2, 100, 300)])
def test_cc_matches_networkx(spark, seed, n_nodes, n_edges):
    edges = _random_edges(n_nodes, n_edges, seed)
    edges = edges[edges["url_a"] != edges["url_b"]]
    expected = _nx_components(edges)
    with Scope() as scope:
        got = {
            r["url"]: r["gid"]
            for r in connected_components(
                spark.createDataFrame(edges), scope=scope
            ).collect()
        }
    assert got == expected


def test_cc_chain_graph(spark):
    # worst-case diameter: a long path must still converge
    nodes = [f"c{i:03d}" for i in range(60)]
    edges = pd.DataFrame({"url_a": nodes[:-1], "url_b": nodes[1:]})
    with Scope() as scope:
        comp = connected_components(spark.createDataFrame(edges), scope=scope)
        got = {r["url"]: r["gid"] for r in comp.collect()}
    assert set(got.values()) == {"c000"}
    assert len(got) == 60


def test_cc_permutation_invariant(spark):
    edges = _random_edges(80, 60, seed=9)
    edges = edges[edges["url_a"] != edges["url_b"]]
    shuffled = edges.sample(frac=1.0, random_state=1).reset_index(drop=True)
    # also swap direction of half the edges
    half = shuffled.index % 2 == 0
    shuffled.loc[half, ["url_a", "url_b"]] = shuffled.loc[half, ["url_b", "url_a"]].values
    with Scope() as scope:
        ca = connected_components(spark.createDataFrame(edges), scope=scope)
        cb = connected_components(spark.createDataFrame(shuffled), scope=scope)
        a = {r["url"]: r["gid"] for r in ca.collect()}
        b = {r["url"]: r["gid"] for r in cb.collect()}
    assert a == b


def test_cc_empty(spark):
    empty = spark.createDataFrame([], "url_a string, url_b string")
    with Scope() as scope:
        assert connected_components(empty, scope=scope).count() == 0


def test_assign_clusters_singletons(spark):
    pages = spark.createDataFrame(pd.DataFrame({"url": ["a", "b", "c"]}))
    comp = spark.createDataFrame(pd.DataFrame({"url": ["a", "b"], "gid": ["a", "a"]}))
    got = {r["url"]: r["gid"] for r in assign_clusters(pages, comp).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}  # c = its own singleton gid


def test_golden_records_policies(spark):
    pdf = pd.DataFrame(
        {
            "gid": ["g1", "g1", "g1", "g2"],
            "url": ["u3", "u1", "u2", "u9"],
            "warc_ts": pd.to_datetime(["2024-01-03", "2024-01-01", "2024-01-02", "2024-01-01"], utc=True),
            "text": ["t-late", "t-early", "t-mid", "solo"],
            "lang": ["en", "de", "en", "fr"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["gid"]: r
        for r in golden_records(
            df, policies={"url": "first", "text": "last", "lang": "popularity"}
        ).collect()
    }
    assert got["g1"]["n_members"] == 3
    assert got["g1"]["url_golden"] == "u1"      # first by warc_ts
    assert got["g1"]["text_golden"] == "t-late"  # last by warc_ts
    assert got["g1"]["lang_golden"] == "en"      # mode
    assert got["g2"]["url_golden"] == "u9"


def test_keep_best_highest_score_smallest_id_tie(spark):
    from webdedup.cluster import keep_best

    df = spark.createDataFrame(
        [
            ("g1", "u3", 0.9),
            ("g1", "u1", 0.5),
            ("g1", "u2", 0.9),  # tie with u3 -> smaller url wins
            ("g2", "u9", 0.1),  # singleton
        ],
        "gid string, url string, score double",
    )
    got = {r["gid"]: r["url"] for r in keep_best(df, "score").collect()}
    assert got == {"g1": "u2", "g2": "u9"}
    # exactly one keeper per gid, original columns preserved
    out = keep_best(df, "score")
    assert out.columns == ["gid", "url", "score"]
    assert out.count() == 2


def test_cc_single_task_path_submits_no_count_job(spark, jobs_submitted):
    """The contracted edge count is observed on the contraction's own
    checkpoint and the single-task pass emits every node: on the 60-edge
    chain only the two checkpoints run (6 jobs before, with a count job)."""
    nodes = [f"c{i:03d}" for i in range(61)]
    edges = spark.createDataFrame(pd.DataFrame({"url_a": nodes[:-1], "url_b": nodes[1:]}))
    edges.count()
    with Scope() as scope:
        comp, n = jobs_submitted(
            "pin-cc-chain", lambda: connected_components(edges, scope=scope)
        )
        got = {r["url"]: r["gid"] for r in comp.collect()}
        assert comp.count() == len(got) == 61  # one row per node, no duplicates
    assert set(got.values()) == {"c000"}
    assert n <= 4, n
