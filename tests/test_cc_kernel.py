"""The single-task union-find kernel of connected_components against the
hash-min shuffle loop (broadcast_labels=False) and a pure-Python BFS."""

import pandas as pd

from ddaugner_spark.operators import canonical


def _graphs():
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(399)]
    star = [("s_hub", f"s{i}") for i in range(50)]
    islands = [(f"i{k}a", f"i{k}b") for k in range(10)]
    # duplicate and reversed edges of one component
    dup = [("d1", "d2"), ("d2", "d1"), ("d1", "d2"), ("d3", "d2"), ("d3", "d2")]
    loops = [("l1", "l1"), ("l2", "l2"), ("l2", "l3")]
    # string order differs from numeric order: "n10" < "n9"
    numeric = [("n9", "n10"), ("n10", "n100"), ("n2", "n9")]
    return {
        "chain": chain, "star": star, "islands": islands, "dup": dup,
        "loops": loops, "numeric": numeric,
    }


def _bfs_labels(edges):
    """Reference: component = min member, by plain graph search."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen, todo = {start}, [start]
        while todo:
            for n in adj[todo.pop()] - seen:
                seen.add(n)
                todo.append(n)
        for n in seen:
            out[n] = min(seen)
    return out


def _kernel(edges, batch=7):
    """Run the kernel over ``edges`` split into small Arrow-like batches."""
    frames = [
        pd.DataFrame(edges[i : i + batch], columns=["a", "b"])
        for i in range(0, len(edges), batch)
    ]
    got = {}
    for out in canonical._union_find_labels(iter(frames)):
        got.update(zip(out["entity"], out["component"]))
    return got


def test_union_find_kernel_matches_bfs():
    for name, edges in _graphs().items():
        assert _kernel(edges) == _bfs_labels(edges), name
    assert _kernel([]) == {}
    assert _kernel(list(reversed(_graphs()["chain"])), batch=1000) == {
        f"c{i:03d}": "c000" for i in range(400)
    }
    assert _kernel(_graphs()["numeric"])["n9"] == "n10"


def test_cc_kernel_equals_shuffle_loop(spark, tmp_path):
    graphs = _graphs()
    edges = [e for g in graphs.values() for e in g]
    df = spark.createDataFrame(edges, "a string, b string")

    st: dict = {}
    kernel = {
        tuple(r)
        for r in canonical.connected_components(
            df, stage_dir=str(tmp_path / "k"), stats=st
        ).collect()
    }
    loop_st: dict = {}
    loop = {
        tuple(r)
        for r in canonical.connected_components(
            df, stage_dir=str(tmp_path / "l"), broadcast_labels=False, stats=loop_st
        ).collect()
    }
    assert kernel == loop == set(_bfs_labels(edges).items())
    assert not loop_st.get("kernel") and loop_st["broadcast_labels"] is False

    # the stats contract bench legs and the pipeline tracer read
    assert st["kernel"] is True and st["broadcast_labels"] is True
    assert st["n_nodes"] == len(kernel) and st["n_edges"] == len(edges)
    assert st["n_checkpoints"] == 1 and len(st["iters"]) == 1
    n_roots = len({c for _e, c in kernel})
    assert st["iters"][0]["n_changed"] == len(kernel) - n_roots


def test_cc_kernel_empty_and_zero_iterations(spark, tmp_path):
    empty = spark.createDataFrame([], "a string, b string")
    st: dict = {}
    assert canonical.connected_components(empty, stats=st).collect() == []
    assert st["n_nodes"] == 0 and st["iters"][0]["n_changed"] == 0
    assert (
        canonical.connected_components(empty, broadcast_labels=False).collect() == []
    )

    df = spark.createDataFrame(_graphs()["numeric"], "a string, b string")
    zero = {tuple(r) for r in canonical.connected_components(df, max_iter=0).collect()}
    assert zero == {(n, n) for n in ("n2", "n9", "n10", "n100")}
