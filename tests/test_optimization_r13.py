"""Round-13 optimization pins: the numpy Lloyd fast path must stay
bit-identical to the pure-Python reference loop, and the concurrent
store-layer writer must propagate failures."""

from __future__ import annotations

import random

import pytest

from openetlagent_spark.functions.similarity import _lloyd, _lloyd_reference
from openetlagent_spark.session import run_concurrent_writes


def _random_grid(n: int, dim: int, lo: int, hi: int, seed: int) -> list[list[int]]:
    rng = random.Random(seed)
    return [[rng.randint(lo, hi) for _ in range(dim)] for _ in range(n)]


@pytest.mark.parametrize(
    "n,dim,k,iters,lo,hi,seed",
    [
        (64, 8, 4, 2, -(1 << 20), 1 << 20, 1),  # the _quantize grid range
        (200, 16, 16, 3, -(1 << 20), 1 << 20, 2),
        (50, 4, 7, 2, 0, 3, 3),  # tiny value range: forces distance TIES
        (33, 5, 33, 2, -5, 5, 4),  # k == n: every row its own init centroid
        (40, 6, 8, 1, -(1 << 40), 1 << 40, 5),  # large grid, still < 2^52
    ],
)
def test_lloyd_numpy_matches_reference(n, dim, k, iters, lo, hi, seed):
    sample = _random_grid(n, dim, lo, hi, seed)
    cents_fast, rats_fast = _lloyd(sample, k, iters)
    cents_ref, rats_ref = _lloyd_reference(sample, k, iters)
    # bit-identical floats (== on float is exact equality) and the
    # exact integer rationals the oracle generators embed
    assert cents_fast == cents_ref
    assert rats_fast == rats_ref


def test_lloyd_duplicate_rows_tie_to_lower_cid():
    # identical rows make every centroid distance equal: the reference
    # strict-< scan keeps the LOWER cid, argmin must do the same
    sample = [[7, 7]] * 10 + [[1, 2], [3, 4]]
    cents_fast, rats_fast = _lloyd(sample, 3, 2)
    cents_ref, rats_ref = _lloyd_reference(sample, 3, 2)
    assert cents_fast == cents_ref
    assert rats_fast == rats_ref


def test_lloyd_out_of_grid_falls_back_to_reference():
    # coordinates beyond int64 → the numpy path must defer, not wrap
    big = 1 << 70
    sample = [[big, 0], [0, big], [big, big], [1, 1]]
    cents_fast, rats_fast = _lloyd(sample, 2, 2)
    cents_ref, rats_ref = _lloyd_reference(sample, 2, 2)
    assert cents_fast == cents_ref
    assert rats_fast == rats_ref


def test_lloyd_k_exceeds_sample_raises():
    with pytest.raises(ValueError, match="exceeds"):
        _lloyd([[1, 2]], 3, 1)


def test_run_concurrent_writes_propagates_first_error():
    calls = []

    def ok():
        calls.append("ok")

    def boom():
        raise RuntimeError("layer write failed")

    with pytest.raises(RuntimeError, match="layer write failed"):
        run_concurrent_writes([ok, boom, ok])
    # every thunk ran (all awaited before re-raise)
    assert calls == ["ok", "ok"]


def test_run_concurrent_writes_single_thunk_inline():
    out = []
    run_concurrent_writes([lambda: out.append(1)])
    assert out == [1]


# --- connected_components step-budget contract ------------------------

import duckdb
from pyspark.sql import functions as F

from openetlagent_spark.functions.graph import (
    components_oracle_sql,
    connected_components,
)


def _cc_vs_oracle(spark, edges_rows, max_iter):
    """Engine CC at ``max_iter`` vs the DuckDB oracle unrolled at the
    same round count — must match even when the graph is TRUNCATED
    (diameter > budget), the contract the r13 fusion initially broke."""
    df = spark.createDataFrame(edges_rows, "id_a bigint, id_b bigint")
    got = sorted(
        (r["node"], r["component"])
        for r in connected_components(df, max_iter=max_iter).collect()
    )
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in edges_rows)
    pairs_sql = f"SELECT * FROM (VALUES {vals}) AS t(id_a, id_b)"
    sql = components_oracle_sql(pairs_sql, rounds=max_iter)
    want = sorted((int(r[0]), int(r[1])) for r in con.execute(sql).fetchall())
    assert got == want


def test_cc_truncated_path_matches_oracle(spark):
    # 40-node path: diameter 39 >> any small budget, so every budget
    # below 39 exercises the TRUNCATED state, push for push
    path = [(i, i + 1) for i in range(40)]
    for budget in (1, 2, 3, 4, 5, 8, 25):
        _cc_vs_oracle(spark, path, budget)


def test_cc_converged_path_matches_oracle(spark):
    # diameter 4 converges well inside 25 — early exit must land on
    # the same fixpoint the unrolled oracle reaches
    path = [(i, i + 1) for i in range(4)]
    _cc_vs_oracle(spark, path, 25)


def test_cc_multi_component_truncation(spark):
    # two chains + a triangle, odd and even budgets (EVEN budgets take
    # the final-single-push branch: the fused init consumes push #1,
    # leaving an odd remainder; budget 3 -> one double cycle, no
    # final push)
    edges = (
        [(i, i + 1) for i in range(10)]
        + [(100 + i, 101 + i) for i in range(7)]
        + [(200, 201), (201, 202), (200, 202)]
    )
    for budget in (2, 3, 6, 7):
        _cc_vs_oracle(spark, edges, budget)


# --- fixed-round iterative operators: every round count, both executors ---
#
# label_propagation / kcore / bfs_hops materialize their state every
# round on the Spark path and run the same rounds over dicts on the
# driver below the small-graph gate.  The rounds are fixed deterministic
# recurrences with no convergence probe, so both executors must be
# value-identical at EVERY round count — including counts where the
# graph has not yet converged (the CC step-budget lesson: verify the
# truncated states, not just the fixpoint).

from openetlagent_spark.functions.graph import (  # noqa: E402
    bfs_hops,
    bfs_hops_oracle_sql,
    kcore,
    kcore_oracle_sql,
    label_propagation,
    label_propagation_oracle_sql,
)


def _values_sql(rows, cols):
    vals = ", ".join("(" + ", ".join(str(v) for v in r) + ")" for r in rows)
    return f"(SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)}))"


def _graph_frames(spark, n_nodes, edge_rows):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "node bigint")
    edges = spark.createDataFrame(edge_rows, "src bigint, dst bigint")
    nodes_sql = _values_sql([(i,) for i in range(n_nodes)], ["node"])
    edges_sql = _values_sql(edge_rows, ["src", "dst"])
    return nodes, edges, nodes_sql, edges_sql


# Two 4-cliques bridged by a long path: LP fronts keep moving for many
# rounds, kcore peels the path one layer per round from each end, BFS
# expands one hop per round — every round count below convergence yields
# a DIFFERENT state, so each pin checks the exact intermediate.
_CLIQUE_A = [(a, b) for a in range(4) for b in range(a + 1, 4)]
_CLIQUE_B = [(20 + a, 20 + b) for a in range(4) for b in range(a + 1, 4)]
_PATH = [(3, 10), (10, 11), (11, 12), (12, 13), (13, 14), (14, 20)]
_GRAPH = _CLIQUE_A + _CLIQUE_B + _PATH
_N = 24  # nodes 0..23 (ids 4..9 and 15..19 are isolated — keep-own rows)


def test_label_propagation_cycles_match_oracle(spark, force_graph_executor):
    nodes, edges, nodes_sql, edges_sql = _graph_frames(spark, _N, _GRAPH)
    con = duckdb.connect()
    for iters in (1, 2, 3, 4, 5):
        sql = label_propagation_oracle_sql(nodes_sql, edges_sql, iters=iters)
        want = sorted(
            (int(a), int(b), int(c)) for a, b, c in con.execute(sql).fetchall()
        )
        for executor in ("driver", "spark"):
            force_graph_executor(executor)
            got = sorted(
                (r["node"], r["community"], r["community_size"])
                for r in label_propagation(nodes, edges, iters=iters).collect()
            )
            assert got == want, f"label_propagation iters={iters} on {executor}"


def test_kcore_cycles_match_oracle(spark, force_graph_executor):
    nodes, edges, nodes_sql, edges_sql = _graph_frames(spark, _N, _GRAPH)
    con = duckdb.connect()
    for rounds in (1, 2, 3, 4, 5):
        sql = kcore_oracle_sql(nodes_sql, edges_sql, k=2, rounds=rounds)
        want = sorted((int(a), int(b)) for a, b in con.execute(sql).fetchall())
        for executor in ("driver", "spark"):
            force_graph_executor(executor)
            got = sorted(
                (r["node"], r["degree"])
                for r in kcore(nodes, edges, k=2, rounds=rounds).collect()
            )
            assert got == want, f"kcore rounds={rounds} on {executor}"


def test_bfs_hops_cycles_match_oracle(spark, force_graph_executor):
    nodes, edges, nodes_sql, edges_sql = _graph_frames(spark, _N, _GRAPH)
    con = duckdb.connect()
    for hops in (1, 2, 3, 4):
        sql = bfs_hops_oracle_sql(nodes_sql, edges_sql, hops)
        want = sorted((int(a), int(b)) for a, b in con.execute(sql).fetchall())
        for executor in ("driver", "spark"):
            force_graph_executor(executor)
            got = sorted(
                (r["node"], r["hops"]) for r in bfs_hops(nodes, edges, hops).collect()
            )
            assert got == want, f"bfs_hops max_hops={hops} on {executor}"


# --- r13 kmeans assignment as one parsed SQL expression ---------------------
#
# kmeans_assign builds its k-way distance argmin as formatted SQL text
# (one F.expr parse) instead of nested Column-op zip_with/aggregate
# lambdas — ~10× cheaper driver-side construction.  The parsed tree
# must stay bit-identical to the Column-op formulation it replaced.

from pyspark.sql import functions as F  # noqa: E402


def test_kmeans_sql_assignment_matches_column_ops(spark):
    import random as _random

    rng = _random.Random(7)
    rows = [
        (i, [rng.randint(-1000, 1000) for _ in range(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id bigint, xq array<bigint>")
    # centroids with non-terminating double reprs (exercise exact
    # round-tripping through the SQL literal)
    cents = [[(rng.randint(-3000, 3000)) / 7.0 for _ in range(8)] for _ in range(4)]

    def column_op_choice():
        def dist_to(j):
            diffs = F.zip_with(
                F.col("xq").cast("array<double>"),
                F.lit(cents[j]),
                lambda x, c: (x - c) * (x - c),
            )
            return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)

        return F.array_min(
            F.array(
                *[
                    F.struct(dist_to(j).alias("d"), F.lit(j).alias("cid"))
                    for j in range(len(cents))
                ]
            )
        )

    def sql_choice():
        def arr(c):
            return "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"

        structs = ",".join(
            f"struct(aggregate(zip_with(cast(xq as array<double>), {arr(cents[j])}, "
            f"(x, c) -> (x - c) * (x - c)), 0.0D, (acc, v) -> acc + v) AS d, "
            f"{j} AS cid)"
            for j in range(len(cents))
        )
        return F.expr(f"array_min(array({structs}))")

    a = df.select("id", column_op_choice().alias("ch"))
    b = df.select("id", sql_choice().alias("ch"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


# --- r13 sq8 expression trees as parsed SQL ---------------------------------


def test_sq8_dq_sql_matches_column_ops(spark):
    from openetlagent_spark.functions.similarity import _sq8_dq_col, _sq8_dq_sql

    rows = [
        (0, 1.37, -2.0, 5.0),     # interior
        (1, -2.0, -2.0, 5.0),     # at min → code 0
        (2, 5.0, -2.0, 5.0),      # at max → clamp 255
        (3, 9.9, -2.0, 5.0),      # above max → clamp
        (4, -7.7, -2.0, 5.0),     # below min → clamp 0
        (5, 3.3, 2.5, 2.5),       # degenerate r=0 → min
        (6, 0.1, 2.5, 2.0),       # r<0 (inverted grid) → min branch
        (7, 1e-17, 0.0, 1e-16),   # tiny range rounding
    ]
    df = spark.createDataFrame(rows, "id bigint, v double, m double, x double")
    a = df.select("id", _sq8_dq_col(F.col("v"), F.col("m"), F.col("x")).alias("dq"))
    b = df.select("id", F.expr(_sq8_dq_sql("v", "m", "x")).alias("dq"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
